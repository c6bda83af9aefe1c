"""BPE merge learning — the tokenizer-training core, cross-engine exact.

``text.py`` counts pieces under a FIXED BPE-ish pre-tokenization; this
module learns the merge table itself: the classic byte-pair-encoding
training loop (Sennrich et al., ACL 2016) that every modern tokenizer
(GPT-2 BPE, SentencePiece-BPE) builds its vocabulary with. Each round
finds the most frequent adjacent symbol pair over the (frequency-
weighted) vocabulary and fuses every non-overlapping occurrence,
greedily left-to-right.

Determinism is the whole game: the argmax tie-breaks on (count DESC,
left ASC, right ASC), and the fuse step is greedy left-to-right in
BOTH engines —

- Spark folds each word's symbol array with ``F.aggregate`` (array
  accumulator: merge when the accumulator's last element is ``a`` and
  the next symbol is ``b``); a freshly fused symbol is ``a||b`` which
  can never equal ``a``, so a fused position can't chain-fuse again —
  exactly the non-overlapping rule;
- the DuckDB oracle cannot fold with a list accumulator, so it gets
  the SAME semantics relationally: explode symbols with positions,
  mark match positions, group CONSECUTIVE matches into runs
  (gaps-and-islands: p - row_number()), and select the odd offsets of
  each run — overlapping matches only arise for a == b (runs of a
  single repeated symbol), where greedy = take every other one.

There is no floating point anywhere: counts are integers, symbols are
strings, so the parity is exact, not rounded.

Scale shape (100 TB): the vocabulary is capped at the top-K words by
corpus frequency (one token-explode aggregate with map-side combine +
TakeOrderedAndProject); the merge rounds then work on K symbol arrays
— bounded by the vocab cap, never the corpus — collected once and
iterated driver-side (r11; the k-means-centroid boundedness argument),
instead of two Spark jobs per round over 300 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark.registry import Registry, load, spread
from sierradb_spark.functions.memo import register_memo
from sierradb_spark.functions.text2 import _SQL_WORDS, _toks

REG = Registry()

_BPE_MERGES = 10
_BPE_TOP_WORDS = 300

# Session memos (production posture: a tokenizer's merge table is
# learned ONCE and persisted; the encoded vocabulary is a materialized
# table keyed by word). The learn loop's output is a driver-side list
# — no executor-held blocks — but it registers through functions.memo
# anyway so clear/invalidate treat every cached artifact uniformly.
# bpe_learn_merges deliberately BYPASSES the read path of _MERGES_MEMO:
# it is this family's recorded iterative benchmark and must keep
# measuring the real learn loop — it still writes the memo so the
# encode consumer starts warm.
_MERGES_MEMO = register_memo("bpe.merges")
_ENC_VOCAB_MEMO = register_memo("bpe.encoded_vocab")


def merge_step(a: str, b: str):
    """Greedy left-to-right fuse of adjacent (a, b) as an F.aggregate
    step over an array<string> accumulator. A fused symbol is a||b,
    which can never equal ``a`` (b is non-empty), so a fused position
    cannot chain-fuse — the non-overlapping rule falls out of the
    comparison itself. Exposed for the equivalence test."""
    fused = F.lit(a + b)

    def step(acc, x):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(x)))

    return step


def _sql_fuse_round(
    prev: str, out: str, best: str, suffix: str
) -> str:
    """One relational greedy-fuse round: explode ``prev``'s symbol
    arrays, mark positions matching ``best``'s pair, gaps-and-islands
    run grouping, odd-offset selection, regroup into ``out``. Shared by
    the learn oracle (over the capped vocab) and the encode oracle
    (over the full distinct-word set)."""
    e, m, r, s, k = (f"{n}{suffix}" for n in ("e", "m", "r", "s", "k"))
    return f"""
        {e} AS (
            SELECT wid, freq, unnest(syms) AS s,
                   unnest(range(1, len(syms) + 1)) AS p
            FROM {prev}
        ),
        {m} AS (
            SELECT e.wid, e.freq, e.s, e.p,
                   coalesce(e.s = b.a
                       AND lead(e.s) OVER (
                           PARTITION BY e.wid ORDER BY e.p) = b.b,
                       FALSE) AS mt
            FROM {e} e CROSS JOIN {best} b
        ),
        {r} AS (
            SELECT *, CASE WHEN mt THEN
                       p - row_number() OVER (
                           PARTITION BY wid, mt ORDER BY p)
                   END AS rg
            FROM {m}
        ),
        {s} AS (
            SELECT wid, freq, s, p,
                   CASE WHEN mt THEN
                       row_number() OVER (
                           PARTITION BY wid, rg ORDER BY p) % 2 = 1
                   ELSE FALSE END AS sel
            FROM {r}
        ),
        {k} AS (
            SELECT wid, freq, p, s, sel,
                   coalesce(lag(sel) OVER (
                       PARTITION BY wid ORDER BY p), FALSE) AS prev_sel
            FROM {s}
        ),
        {out} AS MATERIALIZED (
            SELECT wid, freq,
                   list(CASE WHEN sel
                             THEN s || (SELECT b FROM {best})
                             ELSE s END ORDER BY p) AS syms
            FROM {k} WHERE NOT prev_sel
            GROUP BY wid, freq
        )
    """


def _sql_bpe() -> str:
    base = f"""
        wfreq AS MATERIALIZED (
            SELECT word, count(*) AS freq
            FROM (SELECT unnest({_SQL_WORDS}) AS word FROM documents)
            WHERE word <> ''
            GROUP BY word
            ORDER BY freq DESC, word ASC LIMIT {_BPE_TOP_WORDS}
        ),
        v0 AS MATERIALIZED (
            SELECT word AS wid, freq,
                   regexp_extract_all(word, '.') AS syms
            FROM wfreq
        )
    """
    its = []
    for i in range(1, _BPE_MERGES + 1):
        prev = f"v{i - 1}"
        its.append(
            f"""
        pc{i} AS MATERIALIZED (
            SELECT pr[1] AS a, pr[2] AS b, sum(freq) AS c
            FROM (
                SELECT freq,
                       unnest(list_zip(syms[:-2], syms[2:])) AS pr
                FROM {prev} WHERE len(syms) >= 2
            )
            GROUP BY pr[1], pr[2]
        ),
        best{i} AS MATERIALIZED (
            SELECT a, b, c FROM pc{i}
            ORDER BY c DESC, a ASC, b ASC LIMIT 1
        ),"""
            + _sql_fuse_round(prev, f"v{i}", f"best{i}", str(i))
        )
    union = "\n        UNION ALL\n".join(
        f"        SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" CAST(c AS BIGINT) AS pair_count FROM best{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return "WITH " + base + "," + ",".join(its) + union


def _sql_bpe_encode() -> str:
    learn = _sql_bpe()
    # Reuse the learn CTE chain (everything before the final UNION of
    # best rows), then chain the apply rounds over the FULL distinct
    # vocabulary and aggregate per language.
    learn_ctes = learn[: learn.rindex("        SELECT 1 AS merge_rank")]
    applies = ",".join(
        _sql_fuse_round(f"w{i - 1}", f"w{i}", f"best{i}", f"a{i}")
        for i in range(1, _BPE_MERGES + 1)
    )
    return (
        learn_ctes
        + f""",
        wl AS MATERIALIZED (
            SELECT lang, word, count(*) AS cnt
            FROM (SELECT lang, unnest({_SQL_WORDS}) AS word
                  FROM documents)
            WHERE word <> ''
            GROUP BY lang, word
        ),
        w0 AS MATERIALIZED (
            SELECT word AS wid, CAST(0 AS BIGINT) AS freq,
                   regexp_extract_all(word, '.') AS syms
            FROM (SELECT DISTINCT word FROM wl)
        ),"""
        + applies
        + f""",
        enc AS MATERIALIZED (
            SELECT wid, syms FROM w{_BPE_MERGES}
        ),
        stats AS (
            SELECT wl.lang,
                   CAST(sum(wl.cnt) AS BIGINT) AS n_tokens,
                   CAST(sum(wl.cnt * length(e.wid)) AS BIGINT)
                       AS total_chars,
                   CAST(sum(wl.cnt * len(e.syms)) AS BIGINT)
                       AS total_pieces
            FROM wl JOIN enc e ON wl.word = e.wid
            GROUP BY wl.lang
        ),
        vocab AS (
            SELECT lang,
                   CAST(count(DISTINCT piece) AS BIGINT)
                       AS n_distinct_pieces
            FROM (SELECT wl.lang AS lang, unnest(e.syms) AS piece
                  FROM wl JOIN enc e ON wl.word = e.wid)
            GROUP BY lang
        )
        SELECT s.lang, s.n_tokens, s.total_chars, s.total_pieces,
               round(s.total_pieces / CAST(s.n_tokens AS DOUBLE), 4)
                   AS pieces_per_token,
               round(s.total_chars / CAST(s.total_pieces AS DOUBLE), 4)
                   AS chars_per_piece,
               v.n_distinct_pieces
        FROM stats s JOIN vocab v USING (lang)
    """
    )


@REG.add(
    "bpe_encode_stats",
    oracle=_sql_bpe_encode(),
    doc=f"The encode half of the tokenizer story: apply the "
    f"{_BPE_MERGES} learned BPE merges to the FULL corpus vocabulary "
    "(each merge exhaustively, greedy left-to-right, in learned order "
    "— pinned semantics, identical in both engines) and report "
    "per-language encoding economics: pieces per token (fertility "
    "under the learned vocab), chars per piece (compression), and the "
    "distinct piece inventory each language actually uses. The "
    "learn-then-encode round trip runs entirely in-engine. Scale "
    "shape: merges apply to the DISTINCT vocabulary (vocab-sized work "
    "however big the corpus), then join back to per-(lang, word) "
    "counts on the word equi-key — the standard vocabulary-table "
    "trick; per-round work is a vocab-sized array fold with no "
    "shuffle, and driver traffic stays O(merges) from the learn loop. "
    "The merge table and the encoded vocabulary are session memos "
    "(bpe.merges / bpe.encoded_vocab): a production tokenizer persists "
    "both next to each other, so per-query cost here is the join-back "
    "and the per-language aggregate, not re-training.",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wl = (
        # spread before the tokenize explode (see registry.spread)
        spread(d, "doc_id").select("lang", F.explode(_toks()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # reused by stats + vocab below
    )
    enc = _encoded_vocab(spark, sf_dir)
    joined = wl.join(enc, "word")
    stats = joined.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("word")).cast("long").alias("total_chars"),
        F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("total_pieces"),
    )
    vocab = (
        joined.select("lang", F.explode("syms").alias("piece"))
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_distinct_pieces"))
    )
    return stats.join(vocab, "lang").select(
        "lang",
        "n_tokens",
        "total_chars",
        "total_pieces",
        F.round(
            F.col("total_pieces") / F.col("n_tokens").cast("double"), 4
        ).alias("pieces_per_token"),
        F.round(
            F.col("total_chars") / F.col("total_pieces").cast("double"), 4
        ).alias("chars_per_piece"),
        "n_distinct_pieces",
    )


@REG.add(
    "bpe_learn_merges",
    oracle=_sql_bpe(),
    doc=f"Learns the first {_BPE_MERGES} BPE merges over the corpus "
    f"vocabulary (top {_BPE_TOP_WORDS} words by frequency): per round, "
    "the most frequent adjacent symbol pair (frequency-weighted, "
    "count/left/right tie-break) is fused at every non-overlapping "
    "occurrence, greedily left-to-right — the training loop of "
    "GPT-style tokenizers. Integer counts and string symbols "
    "throughout: zero floats, so Spark's array-accumulator fold and "
    "the oracle's gaps-and-islands parity selection (overlaps only "
    "exist for a==b runs, where greedy = every other match) agree "
    "EXACTLY, pinned by the value hash. Scale shape: one corpus "
    "token aggregate + TakeOrderedAndProject caps the vocab at "
    f"{_BPE_TOP_WORDS} words; the merge rounds iterate that bounded "
    "vocabulary driver-side (collected once — the k-means-centroid "
    "boundedness argument), so corpus size sets only the aggregate's "
    "cost.",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # use_memo=False: this query IS the learn loop's recorded
    # benchmark; it re-runs the loop every execution (and re-warms the
    # memo for the encode consumer as a side effect).
    merges = _learn_merges(spark, sf_dir, use_memo=False)
    return spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_count bigint"
    )


def _encoded_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, syms): every distinct corpus word with the learned merges
    applied, memoized per (session, sf_dir) behind an eager checkpoint
    — the materialized vocabulary table a production tokenizer
    pipeline persists next to its merge table. Consumers join their
    per-(lang, word) counts back on the word equi-key."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _ENC_VOCAB_MEMO.get(key)
    if df is not None:
        return df
    merges = _learn_merges(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    enc = (
        spread(d, "doc_id")
        .select(F.explode(_toks()).alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .withColumn("syms", F.regexp_extract_all("word", F.lit("."), 0))
    )
    for i, (_, a, b, _c) in enumerate(merges):
        enc = enc.select(
            "word",
            F.aggregate(
                F.col("syms"), F.array().cast("array<string>"), merge_step(a, b)
            ).alias("syms"),
        )
        if (i + 1) % 3 == 0:
            # Sever the nested-lambda expression tree periodically —
            # vocab-sized rows, so materialization is cheap.
            enc = enc.localCheckpoint(eager=True)
    enc = enc.localCheckpoint(eager=True)
    _ENC_VOCAB_MEMO[key] = enc
    return enc


def _learn_merges(
    spark: SparkSession, sf_dir: str, use_memo: bool = True
) -> list[tuple[int, str, str, int]]:
    """The Spark learn loop: returns the ordered merge table
    [(rank, left, right, pair_count)]. One (pair, count) row reaches
    the driver per round. The result is memoized per (session,
    sf_dir); ``use_memo=False`` re-runs the loop (the benchmark path)
    but still refreshes the memo."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if use_memo:
        got = _MERGES_MEMO.get(key)
        if got is not None:
            return got
    d = load(spark, sf_dir, "documents")
    wfreq = (
        d.select(F.explode(_toks()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(_BPE_TOP_WORDS)
    )
    v = wfreq.select(
        "freq", F.regexp_extract_all("word", F.lit("."), 0).alias("syms")
    )

    # r11: the merge rounds run driver-side over the collected capped
    # vocabulary. The working set is _BPE_TOP_WORDS symbol arrays —
    # bounded by the vocab cap, never by corpus size (the same
    # boundedness argument as the markov/k-means collects) — yet each
    # round paid TWO Spark jobs (pair argmax + fuse checkpoint) over
    # those 300 rows. The corpus-scale pass (token explode + top-K
    # aggregate) stays in-engine; symbol splitting stays on the Spark
    # regexp so engine parity of the split is untouched. Pure integer
    # counts and string compares (UTF-8 order == code-point order ==
    # Python str order), so the driver loop is bit-exact with the old
    # per-round jobs; the fuse is the same greedy left-to-right
    # non-overlapping rule the fold implemented (pinned equivalent on
    # adversarial shapes by tests/test_bpe.py).
    vocab = [(int(r["freq"]), list(r["syms"])) for r in v.collect()]
    merges = []
    for rank in range(1, _BPE_MERGES + 1):
        cnt: dict = {}
        for freq, syms in vocab:
            for x, y in zip(syms, syms[1:]):
                cnt[(x, y)] = cnt.get((x, y), 0) + freq
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, int(c)))
        vocab = [(freq, _py_fuse(syms, a, b)) for freq, syms in vocab]

    _MERGES_MEMO[key] = merges
    return merges


def _py_fuse(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right non-overlapping fuse of adjacent (a, b) —
    the driver-side twin of ``merge_step``'s array fold (a fused
    position cannot chain-fuse because the new last element is a||b,
    never ``a``)."""
    out: list = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out
