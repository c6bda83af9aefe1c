"""Production-width sketch dedup: 64-hash MinHash LSH and 64-bit SimHash.

The demo-width operators in functions/dedup.py (4 hashes / 16 bits) keep
oracles cheap; these are the widths a real corpus needs:

- MinHash: 64 hash functions in 16 bands x 4 rows. P(candidate | jaccard
  s) = 1-(1-s^4)^16 — ~0.9998 at s=0.8, <0.01 at s=0.2: near-identical
  documents are caught with near-certainty while unrelated ones almost
  never collide. The hash family stays md5(shingle || '#seed') so DuckDB
  reproduces every signature bit-for-bit (oracle-checkable end to end).
- SimHash: 64-bit signature (16 md5 nibbles' worth of bit votes) with
  4x16-bit Hamming bands. By pigeonhole, any pair within Hamming
  distance 3 agrees on at least one band, so the band join PROVABLY
  contains every near-dup pair at that radius — banding is a pure
  recall-preserving work reduction.

Scale shape (100 TB): signatures are shuffle-free maps; band exploding
multiplies rows by #bands (16 / 4) of ~50-byte band keys — the join
shuffles band digests, never documents; candidate verification joins
back to exact scores only for colliding pairs. At cluster scale the
band digest becomes a partition/bucket column so each band bucket
dedups independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark.functions.memo import register_memo
from sierradb_spark.functions.dedup import (
    _SQL_SHINGLES,
    _SQL_TOKS,
    SHINGLE_K,
    minhash_col,
    with_shingles,
)
from sierradb_spark.registry import Registry, load, spread

REG = Registry()

N_HASHES_WIDE = 64
N_BANDS = 16
ROWS_PER_BAND = N_HASHES_WIDE // N_BANDS  # 4

SIMHASH64_NIBBLES = 16  # 64 bits
SIMHASH_BANDS = 4  # 4 x 16-bit Hamming bands
HAMMING_RADIUS = 3
_HEX = "0123456789abcdef"

# Shared oracle CTE: 64-wide minhash signature list per document.
_SQL_WIDE_MINS = f"""
        sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s
            FROM documents WHERE len({_SQL_TOKS}) >= {SHINGLE_K}
        ),
        mins AS (
            SELECT doc_id,
                   list_transform(range({N_HASHES_WIDE}), k ->
                       list_min(list_transform(s,
                           x -> md5(concat(x, '#', k::VARCHAR))))) AS m
            FROM sh
        ),
        bands AS (
            SELECT doc_id, CAST(b AS INT) AS band_idx,
                   md5(concat(m[4*b+1], m[4*b+2], m[4*b+3], m[4*b+4]))
                       AS band_digest
            FROM mins, range({N_BANDS}) t(b)
        )
"""


_WIDE_BAND_COLS: dict = {}


def wide_bands_for(
    docs: DataFrame, staging_out: list | None = None
) -> DataFrame:
    """(doc_id, band_idx, band_digest) for any (doc_id, text) frame:
    16 bands x 4-hash MinHash LSH — the reusable core of
    :func:`_wide_bands`, also fed per-micro-batch by the streaming
    corpus dedup (streaming/corpus.py).

    The shingle arrays are MATERIALIZED (localCheckpoint) before the 64
    hash expressions consume them: with 64 consumers Catalyst's project
    collapse inlines the shingle-construction alias into every one, and
    each inlined array access re-runs the regex tokenization — turning
    the signature pass into O(hashes x shingles x split) per document
    (hundreds of seconds at sf0.1). Behind the barrier each of the 64
    mins reads a plain in-memory array: one tokenization per document,
    then pure md5 throughput.

    ``staging_out``: callers that materialize the RESULT into their own
    barrier (the memo builder, the streaming corpus per-batch pass) can
    pass a list to receive the internal staging checkpoint and release
    it via ``memo.release_checkpoint`` once their barrier exists —
    keeping rebuild churn and micro-batch loops storage-flat instead of
    leaving one dead staging generation per call to GC.
    """
    d = with_shingles(docs, "doc_id")
    # Lazily-built constant Column trees (r11): the 64 minhash exprs +
    # 16 band digests cost hundreds of py4j round-trips to CONSTRUCT
    # (~1-2 s), and the streaming corpus dedup paid that once per
    # micro-batch. They reference columns by name only, so one build
    # serves the session.
    c = _WIDE_BAND_COLS
    if not c:
        sh = F.col("shingles")
        c["mins"] = F.array(
            *[minhash_col(sh, k) for k in range(N_HASHES_WIDE)]
        ).alias("m")
        m = F.col("m")
        c["bands"] = F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat(
                            *[
                                F.get(m, b * ROWS_PER_BAND + i)
                                for i in range(ROWS_PER_BAND)
                            ]
                        )
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_idx", "band_digest")
    # repartition: the testdata corpus arrives as one parquet file (one
    # input split), which would serialize the whole md5 pass on a single
    # core; signatures are embarrassingly parallel, so spread first.
    n_slices = int(
        d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    staged = (
        d.where(F.col("n_toks") >= SHINGLE_K)
        .select("doc_id", "shingles")
        .repartition(n_slices)
        .localCheckpoint(eager=True)
    )
    if staging_out is not None:
        staging_out.append(staged)
    mins = staged.select("doc_id", c["mins"])
    return mins.select("doc_id", c["bands"])


# Session-scoped memo of the banded-LSH intermediates. Six registry
# queries (candidates, recall, verified pairs, components/leakage/
# attribution consumers via wide_candidate_edges, the cost audit, the
# cross-lingual pairs) all start from the SAME 64-hash signature pass
# over the immutable testdata corpus; without the memo each one re-runs
# tokenization + 64 md5 mins (the dominant cost of the sf0.1 slow tail
# — profiled r7, docs/SCALE.md). The memo pins the pass once per
# (session, sf_dir) behind an eager localCheckpoint — the engine-level
# analogue of a materialized signature index, which is exactly what the
# production path at 100 TB would persist anyway (the streaming corpus
# dedup already does, via its band index). Keyed by applicationId so a
# fresh session (fresh JVM state) rebuilds cleanly. Lifecycle
# (immutable-corpus assumption, the lost-block check on a hit,
# clear/invalidate hooks) lives in sierradb_spark.functions.memo.
_BANDS_MEMO = register_memo("dedup_wide.bands")
_CAND_MEMO = register_memo("dedup_wide.candidates")


def _wide_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band digests of the testdata documents table (registry form),
    memoized per (session, sf_dir) — see _BANDS_MEMO."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _BANDS_MEMO.get(key)
    if df is None:
        from sierradb_spark.functions.memo import release_checkpoint

        staging: list = []
        # eager (was lazy): builders only run on demand, so the first
        # consumer paid the materialization either way — eager lets the
        # internal shingle staging be released HERE instead of lingering
        # in executor storage until GC (one dead generation per rebuild).
        df = wide_bands_for(
            load(spark, sf_dir, "documents"), staging_out=staging
        ).localCheckpoint(eager=True)
        for s in staging:
            release_checkpoint(s)
        _BANDS_MEMO[key] = df
    return df


def _wide_candidates_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-pair set, pinned behind a checkpoint and memoized —
    the shared input of the recall audit, the verified-pairs verifier,
    and the candidate-graph consumers. The registry's
    ``minhash_wide_candidates`` itself stays un-pinned so its plan test
    keeps asserting the equi-join shape."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _CAND_MEMO.get(key)
    if df is None:
        df = minhash_wide_candidates(spark, sf_dir).localCheckpoint(
            eager=True
        )
        _CAND_MEMO[key] = df
    return df


@REG.add(
    "minhash_wide_bands",
    oracle=f"""
        WITH {_SQL_WIDE_MINS}
        SELECT doc_id, band_idx, band_digest FROM bands
    """,
    doc="Production-width MinHash LSH banding: 64 hashes -> 16 band digests per "
    "document, exploded to (doc_id, band_idx, band_digest). Signature work is a "
    "shuffle-free map; only 16 x 32-byte digests per doc move downstream.",
)
def minhash_wide_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wide_bands(spark, sf_dir)


@REG.add(
    "minhash_wide_candidates",
    oracle=f"""
        WITH {_SQL_WIDE_MINS}
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_digest = b.band_digest
         AND a.doc_id < b.doc_id
    """,
    doc="Candidate near-dup pairs from the 16x4 LSH: equi-join on (band_idx, "
    "band_digest) — work scales with collisions, never N^2. At jaccard 0.8 a true "
    "pair is caught with p~0.9998; at 0.2 false candidates are <1%.",
)
def minhash_wide_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _wide_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Recall-audit sample target: the exact-jaccard ground truth is computed
# over pairs from a deterministic ~RECALL_SAMPLE_DOCS-doc sample, so the
# audit is O(sample^2) — constant — at every scale (r04 brief item 3;
# previously all-pairs, which capped it at gate scale). Sampling uses
# the shared multiplicative-hash convention — _KNUTH/_RING imported
# from functions/pipeline.py (which documents the doc_id < 2^31
# no-overflow precondition) — with an adaptive threshold:
# hash(doc_id) < (2^32 * target) // n_docs, exact integer arithmetic
# in both engines, all docs when n_docs <= target.
from sierradb_spark.functions.pipeline import _KNUTH, _RING, _hash32  # noqa: E402

# ---------------------------------------------------------------------------
# Shared near-dup graph construction (Spark helpers + oracle CTE twins).
# Every consumer of the production-width candidate graph — components,
# split-leakage, attribution, PageRank, LPA, triangles — builds on these
# SAME pieces, so a change to candidate generation happens in ONE place
# on each engine. The `comp` fixpoint CTEs require WITH RECURSIVE.
# ---------------------------------------------------------------------------

_SQL_CAND = """
        cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_digest = b.band_digest
             AND a.doc_id < b.doc_id
        )"""

_SQL_CAND_EDGES = (
    _SQL_CAND
    + """,
        edges AS MATERIALIZED (
            SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL
            SELECT doc_b AS u, doc_a AS v FROM cand
        )"""
)

_SQL_CAND_COMPONENTS = (
    _SQL_CAND_EDGES
    + """,
        nodes AS (SELECT DISTINCT u AS id FROM edges),
        walk (id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id
        ),
        comp AS (SELECT id, min(label) AS label FROM walk GROUP BY id)"""
)


def wide_candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (doc_a, doc_b) edge list of the production-width LSH
    candidate graph, pinned behind a checkpoint barrier (every consumer
    iterates or multiply-references it)."""
    cand = _wide_candidates_pinned(spark, sf_dir)
    return cand.union(
        cand.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)


_WIDE_LABELS_MEMO = register_memo("dedup_wide.wide_labels")


def wide_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) connected components of the candidate graph — the
    Spark twin of the ``comp`` oracle CTE. The LPA fixpoint is
    deterministic, so its four consumers (components, split-leakage,
    attribution, containment) share one memoized run."""
    from sierradb_spark.functions.pipeline import min_label_components

    key = (spark.sparkContext.applicationId, sf_dir)
    df = _WIDE_LABELS_MEMO.get(key)
    if df is None:
        df = min_label_components(wide_candidate_edges(spark, sf_dir))
        _WIDE_LABELS_MEMO[key] = df
    return df


RECALL_SAMPLE_DOCS = 1000


@REG.add(
    "minhash_wide_recall",
    oracle=f"""
        WITH {_SQL_WIDE_MINS},
        thr AS (
            SELECT {_RING * RECALL_SAMPLE_DOCS} // count(*) AS t
            FROM documents
        ),
        samp AS (
            SELECT doc_id FROM documents, thr
            WHERE (doc_id * {_KNUTH}) % {_RING} < thr.t
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_digest = b.band_digest
             AND a.doc_id < b.doc_id
        ),
        sets AS (
            SELECT doc_id, list_distinct(s) AS ss FROM sh
            WHERE doc_id IN (SELECT doc_id FROM samp)
        ),
        truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sets a JOIN sets b ON a.doc_id < b.doc_id
             -- size-ratio prune: jac <= min(|A|,|B|)/max(|A|,|B|), so
             -- pairs failing the ratio can never reach 0.8 — identical
             -- results, no list_intersect cost for hopeless pairs
             -- (same pattern as ngram_jaccard_similar_pairs).
             AND CAST(least(len(a.ss), len(b.ss)) AS DOUBLE)
                 / greatest(len(a.ss), len(b.ss)) >= 0.8
            WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                  / nullif(len(a.ss) + len(b.ss)
                           - len(list_intersect(a.ss, b.ss)), 0) >= 0.8
        )
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
               CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
               CAST((SELECT count(*) FROM truth t
                     JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                    AS BIGINT) AS n_true_covered
    """,
    doc="LSH quality audit: exact jaccard >= 0.8 ground truth over a "
    f"deterministic ~{RECALL_SAMPLE_DOCS}-doc hash sample's pairs vs the 16x4 "
    "band candidates. n_true_covered == n_true means the sketch missed nothing "
    "on the sampled truth (asserted in pytest). Sampling bounds the exact "
    "baseline at O(sample^2) regardless of corpus size, so the audit itself "
    "runs at any SF; the band join remains the production path and "
    "n_candidates counts it in full.",
)
def minhash_wide_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sierradb_spark.functions.dedup import _shingle_sets_pinned

    cand = _wide_candidates_pinned(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    # Adaptive sample threshold: one count() to the driver (a scalar),
    # then a literal predicate — same exact integer arithmetic as the
    # oracle's thr CTE.
    n_docs = docs.count()
    thr = (_RING * RECALL_SAMPLE_DOCS) // max(n_docs, 1)
    # The sampled truth sets come off the session shingle-set memo (the
    # same tokenize + array_distinct pass the exact-jaccard audits pin,
    # dedup.py — identical shingle definition by construction, since
    # this module imports SHINGLE_K/with_shingles from there). The memo
    # doubles as the anti-inlining barrier: behind its checkpoint each
    # candidate pair reads plain arrays instead of re-tokenizing (the
    # O(pairs x tokenize) pathology, dedup.py:371-377).
    sets = (
        _shingle_sets_pinned(spark, sf_dir)
        .where(_hash32(F.col("doc_id")) < F.lit(thr))
        .select("doc_id", F.col("shingle_set").alias("ss"))
    )
    # r11: the sampled truth set is an inverted-index postings join —
    # the same shape as dedup._build_jaccard_pairs_base — instead of an
    # all-pairs self-join evaluating array_intersect per pair: explode
    # each sampled doc's (distinct) shingle set, equi-join postings on
    # the shingle, and count(*) per pair IS |A∩B|. Only pairs actually
    # sharing a shingle are generated (a jac >= 0.8 pair always does),
    # the union derives from the carried set sizes, and the size-ratio
    # prune (mirrored in the oracle) still drops hopeless pairs before
    # the aggregate. Integer counts + the same final division: results
    # identical by construction.
    posts = sets.select(
        "doc_id", F.size("ss").alias("ns"), F.explode("ss").alias("shingle")
    )
    a, b = posts.alias("a"), posts.alias("b")
    truth = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.ns"), F.col("b.ns")).cast("double")
                / F.greatest(F.col("a.ns"), F.col("b.ns"))
                >= 0.8
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ns").alias("na"),
            F.col("b.ns").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
        .where(
            F.col("inter").cast("double")
            / F.nullif(F.col("na") + F.col("nb") - F.col("inter"), F.lit(0))
            >= 0.8
        )
        .select("doc_a", "doc_b")
        # Pinned: truth feeds BOTH the n_true aggregate and the covered
        # join below — unpinned, the sampled postings join ran twice
        # per call (profiled r8, pre-rewrite: ~27 s -> ~13 s at sf0.1).
        .localCheckpoint(eager=False)
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    covered = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_true_covered")
    )
    return n_true.crossJoin(n_cand).crossJoin(covered)


# --- 64-bit SimHash ----------------------------------------------------------

# Oracle CTEs: per-token md5 digests -> 16 hex nibbles of bit votes.
# Bit (4j+i) of the signature reads hex char 1+j of each token digest,
# bit i of that nibble; the vote sets it iff strictly more tokens have
# it set than clear (ties clear — same rule as the 16-bit operator).
_SQL_SIMHASH64 = f"""
        toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ),
        digests AS (
            SELECT doc_id, list_transform(t, x -> md5(x)) AS d FROM toks
        ),
        sims AS (
            SELECT doc_id,
                   array_to_string(list_transform(range({SIMHASH64_NIBBLES}), j ->
                       substr('{_HEX}',
                              1 + CAST(list_sum(list_transform(range(4), i ->
                                  CASE WHEN 2 * len(list_filter(d, x ->
                                          (('0x' || substr(x, 1 + j, 1))::INT >> i) & 1 = 1))
                                       > len(d)
                                  THEN (2 ** i)::INT ELSE 0 END)) AS INT),
                              1)), '') AS simhash64
            FROM digests
        )
"""


_SIMHASH64_MEMO = register_memo("dedup_wide.simhash64")


def _simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64): 64-bit simhash as a 16-char hex string.

    Hex-string representation sidesteps BIGINT sign overflow at bit 63
    and makes band extraction a substring — identical in both engines.
    Memoized per (session, sf_dir): the 64 bit-vote passes over the
    token digests are the dominant cost of both consumers (signatures
    + Hamming candidates), and the result is one short string per
    document — the signature table a production pipeline persists."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SIMHASH64_MEMO.get(key)
    if cached is not None:
        return cached
    d = load(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    # Materialized for the same reason as _wide_bands: 64 bit-vote
    # consumers would otherwise each re-split + re-md5 every token. The
    # repartition spreads the vote pass across cores (single input file).
    n_slices = int(
        d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    digests = (
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", F.transform(F.col("t"), lambda t: F.md5(t)).alias("d"))
        .repartition(n_slices)
        .localCheckpoint(eager=True)
    )
    dd = F.col("d")

    def vote(j: int, i: int):
        # bit (4j+i): nibble j of each token digest, bit i
        n_set = F.size(
            F.filter(
                dd,
                lambda x: F.conv(F.substring(x, 1 + j, 1), 16, 10)
                .cast("int")
                .bitwiseAND(F.lit(1 << i))
                != 0,
            )
        )
        return F.when(2 * n_set > F.size(dd), F.lit(1 << i)).otherwise(F.lit(0))

    chars = []
    for j in range(SIMHASH64_NIBBLES):
        val = vote(j, 0)
        for i in range(1, 4):
            val = val + vote(j, i)
        chars.append(F.substr(F.lit(_HEX), val + 1, F.lit(1)))
    out = digests.select(
        "doc_id", F.concat(*chars).alias("simhash64")
    ).localCheckpoint(eager=True)
    # the token-digest staging is dead once `out` materialized — release
    # its blocks now rather than leaving a generation per rebuild to GC
    from sierradb_spark.functions.memo import release_checkpoint

    release_checkpoint(digests)
    _SIMHASH64_MEMO[key] = out
    return out


@REG.add(
    "simhash64_signatures",
    oracle=f"""
        WITH {_SQL_SIMHASH64}
        SELECT doc_id, simhash64 FROM sims
    """,
    doc="64-bit SimHash signatures (production width) as 16-char hex strings. "
    "Shuffle-free map over token md5 digests; the string form keeps the value "
    "portable across engines and makes Hamming bands plain substrings.",
)
def simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash64(spark, sf_dir)


@REG.add(
    "simhash64_hamming_candidates",
    oracle=f"""
        WITH {_SQL_SIMHASH64},
        bands AS (
            SELECT doc_id, simhash64, CAST(t AS INT) AS band_idx,
                   substr(simhash64, 1 + 4*t, 4) AS band_val
            FROM sims, range({SIMHASH_BANDS}) r(t)
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash64 AS sa, b.simhash64 AS sb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   CAST(list_sum(list_transform(range({SIMHASH_BANDS}), t ->
                       bit_count(xor(('0x' || substr(sa, 1 + 4*t, 4))::BIGINT,
                                     ('0x' || substr(sb, 1 + 4*t, 4))::BIGINT))))
                        AS BIGINT) AS hamming
            FROM pairs
        )
        SELECT doc_a, doc_b, hamming FROM scored
        WHERE hamming <= {HAMMING_RADIUS}
    """,
    doc="SimHash near-dup pairs within Hamming distance 3, found via 4x16-bit "
    "band buckets: by pigeonhole a pair within radius 3 must agree on >= 1 of 4 "
    "bands, so the band equi-join provably contains every such pair — the exact "
    "Hamming distance is then computed only for colliding candidates "
    "(bit_count over XORed 16-bit chunks, all JVM-side).",
)
def simhash64_hamming_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = _simhash64(spark, sf_dir)
    bands = sims.select(
        "doc_id",
        "simhash64",
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash64", 1 + 4 * t, 4)
                    for t in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash64").alias("sa"),
            F.col("b.simhash64").alias("sb"),
        )
        .distinct()
    )
    chunk = lambda c, t: F.conv(F.substring(c, 1 + 4 * t, 4), 16, 10).cast("long")  # noqa: E731
    ham = F.bit_count(chunk("sa", 0).bitwiseXOR(chunk("sb", 0)))
    for t in range(1, SIMHASH_BANDS):
        ham = ham + F.bit_count(chunk("sa", t).bitwiseXOR(chunk("sb", t)))
    return (
        pairs.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= HAMMING_RADIUS)
        .select("doc_a", "doc_b", "hamming")
    )


@REG.add(
    "near_dup_components_lsh",
    oracle=f"""
        WITH RECURSIVE {_SQL_WIDE_MINS},
        {_SQL_CAND_COMPONENTS}
        SELECT CAST(label AS BIGINT) AS component,
               CAST(count(*) AS BIGINT) AS n_members,
               min(id) AS keep_doc
        FROM comp
        GROUP BY label
    """,
    doc="The scale-path dedup pipeline end-to-end: 16x4 MinHash LSH candidates "
    "(never N^2) -> min-label connected components to fixpoint -> keep-min "
    "survivor per component. This is the shape that runs at 100 TB — the "
    "demo near_dup_components builds its graph from exact all-pairs cosine "
    "(the O(N^2) baseline); here the edge list costs only the band join. "
    "Oracle: recursive CTE over the same band-join candidate edges.",
)
def near_dup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = wide_near_dup_components(spark, sf_dir)
    return labels.groupBy("label").agg(
        F.count("*").alias("n_members"), F.min("id").alias("keep_doc")
    ).select(
        F.col("label").cast("long").alias("component"), "n_members", "keep_doc"
    )


SIGN_BANDS = 8  # independent 4-dim sign bands (dims 4t+1..4t+4)

# Per-band 4-bit sign bucket, SQL form (band t, 0-based).
_SQL_SIGN_BUCKET = (
    "(CASE WHEN embedding[4*{t}+1] >= 0 THEN 8 ELSE 0 END"
    " + CASE WHEN embedding[4*{t}+2] >= 0 THEN 4 ELSE 0 END"
    " + CASE WHEN embedding[4*{t}+3] >= 0 THEN 2 ELSE 0 END"
    " + CASE WHEN embedding[4*{t}+4] >= 0 THEN 1 ELSE 0 END)"
)
_SQL_SIGN_N = """
        n AS (
            SELECT vec_id,
                   embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                       AS nrm,
                   [{buckets}] AS bks
            FROM embeddings
        )
""".format(
    buckets=", ".join(_SQL_SIGN_BUCKET.format(t=t) for t in range(SIGN_BANDS))
)


def _sign_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, bks): vectors + 8 per-band 4-bit sign buckets,
    staged once for both join sides."""
    from sierradb_spark.functions.similarity import norm_col

    e = load(spark, sf_dir, "embeddings")

    def bucket_of(t: int):
        bit = lambda j, w: F.when(  # noqa: E731
            F.element_at("embedding", 4 * t + j) >= 0, F.lit(w)
        ).otherwise(F.lit(0))
        return bit(1, 8) + bit(2, 4) + bit(3, 2) + bit(4, 1)

    # spread before the checkpoint: consumers verify candidate pairs
    # with interpreted cosine folds on THIS relation's partitions, and
    # an unspread checkpoint pins the scan's single input split (see
    # registry.spread)
    return spread(e, "vec_id").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        norm_col(F.col("embedding").cast("array<double>")).alias("nrm"),
        F.array(*[bucket_of(t) for t in range(SIGN_BANDS)]).alias("bks"),
    ).localCheckpoint(eager=True)


@REG.add(
    "embedding_near_dup_bucketed",
    oracle=f"""
        WITH {_SQL_SIGN_N},
        bands AS (
            SELECT vec_id, v, nrm, CAST(t AS INT) AS band_idx, bks[t+1] AS bucket
            FROM n, range({SIGN_BANDS}) r(t)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               round(list_dot_product(x.v, y.v)
                     / nullif(x.nrm * y.nrm, 0), 4) AS cosine
        FROM cand c JOIN n x ON x.vec_id = c.vec_a
                    JOIN n y ON y.vec_id = c.vec_b
        WHERE list_dot_product(x.v, y.v) / nullif(x.nrm * y.nrm, 0) >= 0.4
    """,
    doc=f"Embedding near-dup PAIR generation via banded sign-LSH: {SIGN_BANDS} "
    "independent 4-hyperplane bands (dim groups), candidates = pairs sharing "
    "ANY band's 4-bit bucket — pair enumeration costs sum(bucket^2) per band "
    "instead of N^2, and banding lifts recall to 1-(1-p)^bands (the same "
    "AND-OR construction as MinHash LSH). The exact cosine filter runs only "
    "on colliding candidates; embedding_bucketed_recall audits the width.",
)
def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sierradb_spark.functions.similarity import dot_col

    n = _sign_banded(spark, sf_dir)
    bands = n.select(
        "vec_id", F.posexplode("bks").alias("band_idx", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    # NO distinct here (r11): deduplicating the ~1M raw band collisions
    # cost a full-width shuffle of the candidate list, and the band
    # overlap is mild (1.0M raw vs 0.8M unique at sf0.1) — scoring the
    # duplicates is cheaper than shuffling to remove them. Each
    # duplicate evaluates the identical fold on identical doubles, so
    # the post-filter distinct (on the ~10^2-row survivor set, a
    # trivially small exchange) returns the identical pair set (guide
    # §2.2: shuffle fewer bytes — here, shuffle survivors, not
    # candidates).
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    x = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    y = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = dot_col(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .where(cos >= 0.4)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .distinct()
    )


@REG.add(
    "embedding_bucketed_recall",
    oracle=f"""
        WITH {_SQL_SIGN_N},
        truth AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   len(list_filter(range({SIGN_BANDS}),
                       t -> a.bks[t+1] = b.bks[t+1])) > 0 AS caught
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0) >= 0.4
        )
        SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
               CAST(count(*) FILTER (WHERE caught) AS BIGINT) AS n_caught,
               round(count(*) FILTER (WHERE caught)::DOUBLE
                     / nullif(count(*), 0), 4) AS recall
        FROM truth
    """,
    doc="Audit of the banded sign-LSH recall: of all exact cosine>=0.4 pairs "
    "(the O(N^2) baseline, run only as this audit), what fraction shares at "
    "least one band bucket — the honest number behind "
    "embedding_near_dup_bucketed's speedup, and the knob-tuning signal "
    "(more bands / multi-probe raise it).",
)
def embedding_bucketed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The truth set (exact cosine >= 0.4 pairs) comes from the shared
    # session memo (pipeline.py) instead of re-running the O(n^2) scan;
    # the band buckets of each endpoint join back by vec_id equi-key —
    # two cheap joins over O(true pairs) rows, identical results.
    from sierradb_spark.functions.pipeline import _scored_near_dup_pairs

    n = _sign_banded(spark, sf_dir).select("vec_id", "bks")
    pairs = _scored_near_dup_pairs(spark, sf_dir)
    caught = (
        F.size(
            F.filter(
                F.zip_with(F.col("a_bks"), F.col("b_bks"), lambda x, y: x == y),
                lambda same: same,
            )
        )
        > 0
    )
    truth = (
        pairs.join(
            n.select(F.col("vec_id").alias("doc_a"), F.col("bks").alias("a_bks")),
            "doc_a",
        )
        .join(
            n.select(F.col("vec_id").alias("doc_b"), F.col("bks").alias("b_bks")),
            "doc_b",
        )
        .select(caught.alias("caught"))
    )
    return truth.agg(
        F.count("*").alias("n_true_pairs"),
        F.count(F.when(F.col("caught"), 1)).alias("n_caught"),
        F.round(
            F.count(F.when(F.col("caught"), 1))
            / F.nullif(F.count("*"), F.lit(0)),
            4,
        ).alias("recall"),
    )


# --- SemDeDup: semantic dedup inside embedding cells -------------------------

SEMDEDUP_TAU = 0.3  # synthetic embeddings are near-orthogonal; 0.3 is the
# "near-duplicate" knee of their cosine distribution. Real corpora use ~0.95.


def _semdedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict (the shape of arXiv:2303.09540):
    within each cell (label = the k-means cell stand-in, as in the IVF
    operators), a vector is DROPPED when any smaller-id vector in the
    same cell is closer than tau — the one-pass greedy keep-first rule.
    Pairs come from a self-equi-join on the cell key, so the quadratic
    term is bounded by cell size, never corpus size: that bound IS the
    SemDeDup trick, and at 100 TB the cell id is a partition column so
    each cell dedups in isolation."""
    from sierradb_spark.functions.similarity import cosine_col

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # spread the probe side: the cell join broadcasts b, so the whole
    # within-cell cosine loop runs on a's partitions (see registry.spread)
    a, b = spread(e, "vec_id").alias("a"), e.alias("b")
    cos = cosine_col(F.col("a.v"), F.col("b.v"))
    dropped = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return e.join(
        dropped.withColumn("dropped", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "label",
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("kept"),
    )


def _sql_semdedup_kept() -> str:
    from sierradb_spark.functions.similarity import _sql_cos

    return f"""
        e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        drops AS (
            SELECT DISTINCT b.vec_id
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_sql_cos('a.v', 'b.v')} >= {SEMDEDUP_TAU}
        ),
        kept AS (
            SELECT e.vec_id, e.label, (drops.vec_id IS NULL) AS kept
            FROM e LEFT JOIN drops ON e.vec_id = drops.vec_id
        )
    """


@REG.add(
    "semdedup_survivors",
    oracle=f"""
        WITH {_sql_semdedup_kept()}
        SELECT vec_id, CAST(label AS INT) AS label, kept FROM kept
    """,
    doc="SemDeDup (semantic dedup over embedding cells, arXiv:2303.09540's "
    "shape): drop a vector when a smaller-id vector in the SAME cell is "
    "within cosine tau — greedy keep-first, deterministic. The pair join is "
    "an equi-join on the cell key (quadratic only within cells, the SemDeDup "
    "bound); at scale the cell id is a partition column.",
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semdedup_kept(spark, sf_dir)


@REG.add(
    "semdedup_cell_stats",
    oracle=f"""
        WITH {_sql_semdedup_kept()}
        SELECT CAST(label AS INT) AS label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_dropped,
               floor(avg(CASE WHEN kept THEN 1.0 ELSE 0.0 END) * 1e6 + 0.5)
                   / 1e6 AS retention
        FROM kept GROUP BY label
    """,
    doc="SemDeDup audit: per-cell vector counts, drops, and retention — the "
    "measurement that calibrates tau before committing to a dedup pass.",
)
def semdedup_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _semdedup_kept(spark, sf_dir)
    return k.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
        (
            F.floor(
                F.avg(F.when(F.col("kept"), 1.0).otherwise(0.0)) * 1e6 + 0.5
            )
            / 1e6
        ).alias("retention"),
    )


@REG.add(
    "minhash_verified_pairs",
    oracle=f"""
        WITH {_SQL_WIDE_MINS},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_digest = b.band_digest
             AND a.doc_id < b.doc_id
        ),
        sets AS (
            SELECT doc_id, list_distinct(s) AS ss FROM sh
        )
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                     / nullif(len(a.ss) + len(b.ss)
                              - len(list_intersect(a.ss, b.ss)), 0),
                     6) AS jaccard
        FROM cand c
        JOIN sets a ON a.doc_id = c.doc_a
        JOIN sets b ON b.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
              / nullif(len(a.ss) + len(b.ss)
                       - len(list_intersect(a.ss, b.ss)), 0) >= 0.8
    """,
    doc="The MinHash pipeline's production final step: exact-jaccard "
    "VERIFICATION of the band candidates (>= 0.8 kept, score emitted). "
    "Exact set intersection runs ONLY on colliding pairs — cost scales "
    "with collisions, never N^2; shingle sets join to the candidate "
    "list by doc_id equi-key, so at 100 TB the verify pass shuffles "
    "candidate ids + the colliding docs' shingle sets, not the corpus. "
    "Together with minhash_wide_candidates this is the end-to-end "
    "candidates -> verified-pairs dedup a real corpus runs.",
)
def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _wide_candidates_pinned(spark, sf_dir)
    d = with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sets = (
        d.where(F.col("n_toks") >= SHINGLE_K)
        .select("doc_id", F.array_distinct("shingles").alias("ss"))
        # Barrier (as in the recall audit): keep the shingle build from
        # being inlined per-pair into the jaccard predicate.
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@REG.add(
    "lsh_join_cost_audit",
    oracle=f"""
        WITH {_SQL_WIDE_MINS},
        buckets AS (
            SELECT band_idx, band_digest, count(*) AS n
            FROM bands GROUP BY band_idx, band_digest
        )
        SELECT band_idx,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(n) AS BIGINT) AS max_bucket,
               CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
        FROM buckets GROUP BY band_idx
    """,
    doc="LSH join-cost audit: per band, the bucket count, the hottest "
    "bucket, and the EXACT number of candidate pairs the band join will "
    "emit (sum of C(n,2) over buckets) — the shuffle-output forecast "
    "you read before running the band self-join at 100 TB. A single "
    "hot digest (an empty-text band, a boilerplate template) shows up "
    "here as a quadratic pair bomb BEFORE it becomes a straggler task. "
    "One aggregate over the band table; only digests and counters "
    "shuffle.",
)
def lsh_join_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = (
        _wide_bands(spark, sf_dir)
        .groupBy("band_idx", "band_digest")
        .agg(F.count("*").alias("n"))
    )
    return buckets.groupBy("band_idx").agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        # integer `div`, not `/`: a hot bucket past ~9.5e7 rows would
        # overflow double precision — exactly the regime this forecast
        # exists for (n*(n-1) is even, so div 2 is exact).
        F.sum(F.expr("n * (n - 1) div 2")).alias("candidate_pairs"),
    )


@REG.add(
    "cross_lingual_template_pairs",
    oracle=f"""
        WITH {_SQL_WIDE_MINS},
        {_SQL_CAND},
        langs AS (
            SELECT c.doc_a, c.doc_b, da.lang AS lang_raw_a, db.lang AS lang_raw_b
            FROM cand c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
        )
        SELECT least(lang_raw_a, lang_raw_b) AS lang_a,
               greatest(lang_raw_a, lang_raw_b) AS lang_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(*) FILTER (WHERE lang_raw_a <> lang_raw_b)
                    AS BIGINT) AS n_cross
        FROM langs GROUP BY least(lang_raw_a, lang_raw_b),
                            greatest(lang_raw_a, lang_raw_b)
    """,
    doc="Cross-lingual template audit: the language pairs of the "
    "production-width LSH candidate graph. Same-language pairs are "
    "ordinary near-dups; CROSS-language pairs (n_cross) are templates "
    "whose token shingles survive translation — boilerplate the "
    "per-language dedup passes each miss, and exactly the off-diagonal "
    "a multilingual curation pass reads first. The language columns "
    "ride a doc_id equi-join onto the collision-scaled candidate list; "
    "nothing here is N^2.",
)
def cross_lingual_template_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _wide_candidates_pinned(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = (
        cand.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_raw_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_raw_b")
            ),
            "doc_b",
        )
    )
    return (
        langs.groupBy(
            F.least("lang_raw_a", "lang_raw_b").alias("lang_a"),
            F.greatest("lang_raw_a", "lang_raw_b").alias("lang_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.count(
                F.when(F.col("lang_raw_a") != F.col("lang_raw_b"), 1)
            ).alias("n_cross"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-vs-duplication calibration
# ---------------------------------------------------------------------------

_CAL_PS = tuple(round(0.1 * i, 1) for i in range(1, 10))

from sierradb_spark.functions.text import _SQL_TOKS, STOPWORDS  # noqa: E402


@REG.add(
    "quality_dup_calibration",
    oracle="WITH "
    + _SQL_WIDE_MINS
    + ","
    + _SQL_CAND
    + f""",
        qs AS (
            SELECT doc_id,
                   round(coalesce(
                       len(list_filter({_SQL_TOKS}, t -> t IN {STOPWORDS!r}))::DOUBLE
                           / nullif(len({_SQL_TOKS}), 0), 0.0), 6) AS score
            FROM documents
        ),
        bnd AS (
            SELECT list_transform(
                       quantile_cont(score, {list(_CAL_PS)}),
                       b -> round(b, 6)) AS bs
            FROM qs
        ),
        dup AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM cand
                UNION ALL
                SELECT doc_b AS doc_id FROM cand
            )
        ),
        bucketed AS (
            SELECT q.doc_id, q.score,
                   1 + len(list_filter(b.bs, x -> q.score > x)) AS decile,
                   (d.doc_id IS NOT NULL) AS is_dup
            FROM qs q CROSS JOIN bnd b
            LEFT JOIN dup d ON d.doc_id = q.doc_id
        )
        SELECT CAST(decile AS INT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup,
               round(count(*) FILTER (WHERE is_dup)
                     / CAST(count(*) AS DOUBLE), 4) AS dup_share,
               round(avg(score), 4) AS avg_score
        FROM bucketed GROUP BY decile
    """,
    doc="Calibration of a cheap quality signal against duplication: "
    "documents are bucketed into value-deciles of stopword density "
    "(the fluency proxy every quality funnel gates on), and each "
    "decile reports what share of its documents participate in a "
    "production-width MinHash near-duplicate pair. The curve answers "
    "the curation question 'does low quality CO-OCCUR with "
    "duplication, or are the two filters independent?' — which decides "
    "whether dedup-then-filter and filter-then-dedup yield materially "
    "different corpora. Decile boundaries come from ONE exact-quantile "
    "aggregate (9 doubles, broadcast; rounded to 6 before comparison "
    "so both engines bucket ties identically); bucket assignment is a "
    "JVM array filter against the broadcast boundaries — no global "
    "ntile window, no per-row sort at any scale.",
)
def quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sierradb_spark.functions.text import STOPWORDS, tokens_col

    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    score = F.round(
        F.coalesce(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast(
                "double"
            )
            / F.nullif(F.size(toks), F.lit(0)),
            F.lit(0.0),
        ),
        6,
    )
    qs = d.select("doc_id", score.alias("score"))
    ps = ", ".join(str(p) for p in _CAL_PS)
    bnd = qs.agg(
        F.transform(
            F.expr(f"percentile(score, array({ps}))"),
            lambda b: F.round(b, 6),
        ).alias("bs")
    )
    cand = _wide_candidates_pinned(spark, sf_dir)
    dup = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    bucketed = (
        qs.crossJoin(F.broadcast(bnd))
        .join(dup, "doc_id", "left")
        .select(
            "score",
            (
                1
                + F.size(
                    F.filter(F.col("bs"), lambda x: F.col("score") > x)
                )
            ).alias("decile"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    return bucketed.groupBy(
        F.col("decile").cast("int").alias("decile")
    ).agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dup"),
        F.round(
            F.count(F.when(F.col("is_dup"), 1))
            / F.count("*").cast("double"),
            4,
        ).alias("dup_share"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )


@REG.add(
    "band_agreement_calibration",
    oracle=f"""
        WITH {_SQL_WIDE_MINS},
        agree AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_bands
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx
             AND a.band_digest = b.band_digest
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
        SELECT CAST(n_bands AS INT) AS bands_agree,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                     / nullif(len(a.ss) + len(b.ss)
                              - len(list_intersect(a.ss, b.ss)), 0)), 6)
                   AS mean_jaccard,
               round(min(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                     / nullif(len(a.ss) + len(b.ss)
                              - len(list_intersect(a.ss, b.ss)), 0)), 6)
                   AS min_jaccard
        FROM agree g
        JOIN sets a ON a.doc_id = g.doc_a
        JOIN sets b ON b.doc_id = g.doc_b
        GROUP BY n_bands
    """,
    doc="LSH calibration curve: candidate pairs grouped by HOW MANY of "
    "the 16 bands agree, with the exact Jaccard of each group (mean + "
    "min) — the measured link between band-collision strength and true "
    "similarity that validates the (b, r) choice against this corpus. "
    "Pairs come from the band equi-join (collision-scaled); exact "
    "intersections run only on colliding pairs, joined by doc_id "
    "equi-key.",
)
def band_agreement_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = minhash_wide_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    agree = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_bands"))
    )
    d = with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sets = (
        d.where(F.col("n_toks") >= SHINGLE_K)
        .select("doc_id", F.array_distinct("shingles").alias("ss"))
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = inter.cast("double") / F.nullif(
        F.size("sa") + F.size("sb") - inter, F.lit(0)
    )
    return (
        agree.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(F.col("n_bands").cast("int").alias("bands_agree"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg(jac), 6).alias("mean_jaccard"),
            F.round(F.min(jac), 6).alias("min_jaccard"),
        )
    )


_PLANNER_CONFIGS = ((32, 2), (16, 4), (8, 8), (4, 16))  # 64 hashes each
_PLANNER_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@REG.add(
    "lsh_parameter_planner",
    oracle=f"""
        WITH cfg AS (
            SELECT * FROM (VALUES
                {', '.join(f'({b}, {r})' for b, r in _PLANNER_CONFIGS)})
                AS t(b, r)
        ),
        th AS (
            SELECT unnest(([{', '.join(str(t) for t in _PLANNER_THRESHOLDS)}])
                       ::DOUBLE[]) AS t
        )
        SELECT b, r, round(t, 2) AS jaccard,
               round(1 - pow(1 - pow(t, r), b), 6) AS p_candidate,
               round(pow((1.0::DOUBLE) / b, (1.0::DOUBLE) / r), 4)
                   AS curve_threshold
        FROM cfg CROSS JOIN th
    """,
    doc="Analytic LSH parameter planner for a 64-hash MinHash budget: "
    "for every (bands, rows) split and Jaccard level, the collision "
    "probability 1-(1-t^r)^b and the S-curve threshold (1/b)^(1/r) — "
    "the table you read BEFORE picking the banding that "
    "band_agreement_calibration then validates empirically. Pure "
    "closed-form arithmetic over a literal grid (no scan); kept as a "
    "registry query so the chosen production parameters (16x4, "
    "threshold ~0.5) stay pinned against the formula.",
)
def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = spark.createDataFrame(list(_PLANNER_CONFIGS), "b int, r int")
    th = spark.createDataFrame(
        [(float(t),) for t in _PLANNER_THRESHOLDS], "t double"
    )
    return cfg.crossJoin(F.broadcast(th)).select(
        "b",
        "r",
        F.round("t", 2).alias("jaccard"),
        F.round(
            1
            - F.pow(
                1 - F.pow(F.col("t"), F.col("r").cast("double")),
                F.col("b").cast("double"),
            ),
            6,
        ).alias("p_candidate"),
        F.round(
            F.pow(
                1.0 / F.col("b").cast("double"),
                1.0 / F.col("r").cast("double"),
            ),
            4,
        ).alias("curve_threshold"),
    )
