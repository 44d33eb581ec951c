"""Dedup + text-analysis query suite over ``documents`` (oracle-checked).

The LLM-training-pipeline operator surface: exact dedup, sampled exact
near-dup audit, MinHash+LSH near-dup at scale, SimHash banding, token/
quality/language/fingerprint analytics. Scale design per operator:

- exact dedup: one hash-groupBy, no joins;
- sampled audit: brute-force pairs on a FIXED-cardinality deterministic
  sample (the K docs with the smallest md5(doc_id)) — O(K²) at any corpus
  size, for density estimation only, never the scale path;
- MinHash LSH: banded signature join (r=8, b=2 ⇒ collision ≈ j⁸) so the
  candidate set tracks true near-dup density instead of vocab overlap —
  the all-pairs shingle join would be 769M pairs at sf0.1;
- SimHash: 15-bit band equality prunes candidates to ~hamming-close pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..operators.text import (
    SIMHASH_BITS,
    STOPWORDS,
    TOKENS_SQL,
    band_key,
    band_key_sql,
    char_shingles,
    char_shingles_sql,
    content_cut_positions,
    content_cut_positions_sql,
    hamming60,
    minhash_signature,
    minhash_signature_sql,
    shingle_hashes31,
    shingle_hashes31_sql,
    simhash_docs,
    simhash_sql,
    positional_gram_hashes,
    stopword_count,
    stopword_count_sql,
    tokens,
    winnow_fingerprints_sql,
    winnow_from_grams,
    word_ngrams,
    word_ngrams_sql,
)
from ..streaming.pipeline import drain
from .helpers import (
    gate_workdir,
    read,
    registrar,
    release_held,
    spread,
    staged_stream,
)

QUERIES = {}
ORACLES = {}
query = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# exact dedup: content-hash groups, keeper = min doc_id
# ---------------------------------------------------------------------------
@query(
    "t_exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY md5(text)
    """,
)
def t_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# token statistics
# ---------------------------------------------------------------------------
@query(
    "t_token_stats",
    f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) AS avg_token_len
    FROM (SELECT doc_id, {TOKENS_SQL.format(c="text")} AS toks FROM documents)
    """,
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn("toks", tokens(F.col("text")))
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
        (
            F.aggregate("toks", F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast("double")
            / F.size("toks")
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# language-ID heuristic: stopword votes per language, argmax
# ---------------------------------------------------------------------------
_LANGS = sorted(STOPWORDS)


def _best_lang(scores: list[Column]) -> Column:
    """The stopword-argmax language: ``scores`` holds one long score per
    language of ``_LANGS``, in order; the pick is the highest score, ties
    going to the lexicographically SMALLEST language (a fold over the
    (score, language) pairs, so the tie-break is deterministic)."""
    pairs = F.array(
        *[F.struct(s.alias("s"), F.lit(lg).alias("l")) for s, lg in zip(scores, _LANGS)]
    )
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).cast("long").alias("s"), F.lit("~").alias("l")),
        lambda acc, x: F.when(
            (x["s"] > acc["s"]) | ((x["s"] == acc["s"]) & (x["l"] < acc["l"])), x
        ).otherwise(acc),
    )
    return best["l"]


@query(
    "t_lang_id",
    f"""
    SELECT doc_id, labeled_lang,
           {", ".join(f"score_{lg}" for lg in _LANGS)},
           CASE {" ".join(
               f"WHEN score_{lg} = greatest({', '.join('score_' + x for x in _LANGS)}) THEN '{lg}'"
               for lg in _LANGS)}
           END AS predicted_lang
    FROM (
      SELECT doc_id, lang AS labeled_lang,
             {", ".join(f"{stopword_count_sql('text', lg)} AS score_{lg}" for lg in _LANGS)}
      FROM documents
    )
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "text",
        *[stopword_count(F.col("text"), lg).cast("long").alias(f"score_{lg}") for lg in _LANGS],
    )
    best = _best_lang([F.col(f"score_{lg}") for lg in _LANGS])
    return scored.withColumn("predicted_lang", best).drop("text")


# ---------------------------------------------------------------------------
# quality scoring: integer counts → deterministic double ratios
# ---------------------------------------------------------------------------
@query(
    "t_quality_score",
    f"""
    SELECT doc_id,
           len(text) AS n_chars_actual,
           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / len(text) AS punct_ratio,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / len(text) AS digit_ratio,
           CAST(len(list_distinct({TOKENS_SQL.format(c="text")})) AS DOUBLE)
             / len({TOKENS_SQL.format(c="text")}) AS lexical_diversity,
           CAST({stopword_count_sql('text', 'en')} AS DOUBLE)
             / len({TOKENS_SQL.format(c="text")}) AS stopword_ratio
    FROM documents
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn("toks", tokens(F.col("text")))
    n = F.length("text")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_chars_actual"),
        (F.regexp_count("text", F.lit(r"[^a-zA-Z0-9\s]")).cast("double") / n).alias("punct_ratio"),
        (F.regexp_count("text", F.lit(r"[0-9]")).cast("double") / n).alias("digit_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias("lexical_diversity"),
        (stopword_count(F.col("text"), "en").cast("double") / F.size("toks")).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------
# document fingerprint: shingle-hash extremes (winnowing-lite)
# ---------------------------------------------------------------------------
@query(
    "t_fingerprint",
    f"""
    SELECT doc_id,
           len(sh) AS n_distinct_shingles,
           list_min(sh) AS fp_min,
           list_max(sh) AS fp_max,
           CAST(list_sum(sh) % 2147483647 AS BIGINT) AS fp_modsum
    FROM (SELECT doc_id, {shingle_hashes31_sql("text")} AS sh FROM documents)
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn("sh", shingle_hashes31(F.col("text")))
    return d.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_distinct_shingles"),
        F.array_min("sh").alias("fp_min"),
        F.array_max("sh").alias("fp_max"),
        (
            F.aggregate("sh", F.lit(0).cast("long"), lambda a, x: a + x) % F.lit(2147483647)
        ).cast("long").alias("fp_modsum"),
    )


# ---------------------------------------------------------------------------
# sampled exact near-dup audit: brute-force Jaccard over a FIXED-CARDINALITY
# deterministic sample — the _AUDIT_K docs with the smallest md5(doc_id)
# hash (tie-broken by doc_id). The pair count is O(K²) for constant K at
# ANY corpus size, and the sample is a uniform pseudo-random draw that is
# reproducible under any partitioning/retry (pure function of doc_id, no
# rand()). Spark executes the top-K as TakeOrderedAndProject (distributed
# partial top-K per partition, merge on the driver — no global sort, no
# single-partition window), then broadcasts the K rows into the self-join.
# ---------------------------------------------------------------------------
_AUDIT_K = 128
_J_THRESH = 0.3


@query(
    "t_near_dup_sample_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh
      FROM documents
      ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
      LIMIT {_AUDIT_K}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {_J_THRESH}
    """,
)
def t_near_dup_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .orderBy(md5_long(F.col("doc_id").cast("string")), "doc_id")
        .limit(_AUDIT_K)
        .select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / (F.size("a.sh") + F.size("b.sh") - inter)
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _J_THRESH)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (the scale path)
# ---------------------------------------------------------------------------
_K, _R, _B = 16, 8, 2
_LSH_THRESH = 0.9


@query(
    "t_minhash_lsh_pairs",
    f"""
    WITH docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {minhash_signature_sql("sh", _K)} AS sig FROM docs
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_idx, {band_key_sql('sig', b, _R)} AS bkey FROM sigs"
        for b in range(_B)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
    FROM cand c JOIN docs x ON c.doc_a = x.doc_id
                JOIN docs y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {_LSH_THRESH}
    """,
)
def t_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One linear pass computes shingles → signature → band keys (each
    # expensive expression lives in its own projection so CollapseProject
    # cannot duplicate it); bands come from ONE posexplode instead of a
    # b-way union (a union re-scans and re-hashes every branch). Band rows
    # carry ONLY (doc_id, band_idx, bkey): the self-join, multi-band pair
    # dedup, and distinct all shuffle narrow fixed-width keys, and the
    # shingle arrays are joined back just once per side for verification —
    # two narrow-key exchanges + one array-bearing hash join beats dragging
    # the arrays through the band join and a groupBy(first(sh)) (the
    # round-2 shape, which benched 26% slower: wide shuffles twice).
    #
    # The hash repartition below the shingle consumers is the SCALE pivot:
    # the plan references the shingled relation four times (band self-join
    # a/b, verification x/y). At cluster scale those joins are sort-merge,
    # every consumer requires hashpartitioning(doc_id), and Spark's
    # ReuseExchange collapses the four canonically-equal subtrees into ONE
    # exchange — the md5 shingle pass runs once, not four times. (At local
    # test scale AQE broadcasts the tiny sides with per-key broadcast modes
    # that can't be shared, so the reuse shows up only in the SMJ regime —
    # measured locally neutral, never worse.)
    docs = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    sigs = docs.withColumn("sig", minhash_signature(F.col("sh"), _K))
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(F.col("sig"), bi, _R) for bi in range(_B)])
        ).alias("band_idx", "bkey"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        # a pair colliding in multiple bands must count once
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(x, "doc_a").join(y, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        verified.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _LSH_THRESH)
    )


# ---------------------------------------------------------------------------
# deterministic stratified train/validation/test split: assignment is a pure
# function of (source, doc_id) via the portable md5 bucket — reproducible
# under any partitioning/retry, no rand(), fractions hold per stratum.
# ---------------------------------------------------------------------------
_SPLIT_FRACTIONS = {"train": 0.8, "validation": 0.1, "test": 0.1}


def _split_stats_oracle() -> str:
    from ..operators.split import split_case_sql

    case = split_case_sql("doc_id", _SPLIT_FRACTIONS, "source")
    return f"""
    SELECT source, {case} AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY source, 2
    """


@query("t_split_stats", None)
def t_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import assign_split

    d = assign_split(
        read(spark, sf_dir, "documents"),
        key="doc_id",
        fractions=_SPLIT_FRACTIONS,
        stratum="source",
    )
    return d.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


ORACLES["t_split_stats"] = _split_stats_oracle()


# ---------------------------------------------------------------------------
# sequence packing (pretraining batch construction): concatenate documents
# per shard in a fixed order and cut into fixed-capacity token bins —
# pure window-cumsum + integer arithmetic + one sequence explode, no
# Python, one shuffle on the shard key (operators/packing.py).
# ---------------------------------------------------------------------------
_PACK_CAPACITY, _PACK_SHARDS = 512, 8


def _pack_oracle() -> str:
    from ..operators.packing import pack_concat_offsets_sql

    return pack_concat_offsets_sql(
        weight_expr=f"len({TOKENS_SQL.format(c='text')})",
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
    )


@query("t_pack_offsets", None)
def t_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_concat_offsets

    d = read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))).cast("long")
    )
    return pack_concat_offsets(
        d, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    )


ORACLES["t_pack_offsets"] = _pack_oracle()


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over the MinHash+LSH
# near-dup pair graph (pairs → transitive clusters → keep-one-per-cluster).
# Oracle: recursive CTE computing min reachable id per node.
# ---------------------------------------------------------------------------
_PAIR_SQL = f"""
    WITH docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {minhash_signature_sql("sh", _K)} AS sig FROM docs
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_idx, {band_key_sql('sig', b, _R)} AS bkey FROM sigs"
        for b in range(_B)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN docs x ON c.doc_a = x.doc_id
                JOIN docs y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {_LSH_THRESH}
"""


@query(
    "t_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_PAIR_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl
      FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component
    FROM reach GROUP BY node
    """,
)
def t_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters via iterative min-label
    propagation (operators/graph.py). component = min doc_id in the cluster,
    so "keep one per cluster" is ``WHERE doc_id = component``."""
    from ..operators.graph import connected_components

    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


# ---------------------------------------------------------------------------
# SimHash banding (near-dup by hamming distance)
# ---------------------------------------------------------------------------
_HAM_MAX = 6
_CHUNK_BITS = 15
_N_CHUNKS = SIMHASH_BITS // _CHUNK_BITS  # 4


@query(
    "t_simhash_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, {simhash_sql("text")} AS h FROM documents
    ),
    chunks AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, h, {c} AS chunk_idx, (h >> {c * _CHUNK_BITS}) & {(1 << _CHUNK_BITS) - 1} AS ckey FROM sh"
        for c in range(_N_CHUNKS)
      )}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.h, b.h)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_idx = b.chunk_idx AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= {_HAM_MAX}
    """,
)
def t_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # simhash_docs hashes each token exactly once (explode + codegen'd
    # 60-way SUM, one shuffle); chunk rows come from ONE posexplode rather
    # than a 4-way union that would recompute the hash per branch.
    d = simhash_docs(spread(read(spark, sf_dir, "documents"), spark))
    mask = (1 << _CHUNK_BITS) - 1
    chunks = d.select(
        "doc_id",
        "h",
        F.posexplode(
            F.array(*[
                F.shiftright("h", c * _CHUNK_BITS).bitwiseAND(F.lit(mask))
                for c in range(_N_CHUNKS)
            ])
        ).alias("chunk_idx", "ckey"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming60(F.col("a.h"), F.col("b.h")).alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAM_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting: GPT2-style pre-tokenizer classes (contractions,
# letter runs, short digit runs, punctuation runs) via one regex — the
# realistic "how many tokens will the tokenizer see" estimate, vs the
# whitespace count in t_token_stats. Same pattern string in both engines
# (Java regex + RE2 agree on these constructs; leftmost-first alternation).
# ---------------------------------------------------------------------------
_BPE_PAT = r"'[a-z]+|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


@query(
    "t_bpe_token_count",
    f"""
    SELECT doc_id,
           len(toks) AS n_bpe_tokens,
           len(list_filter(toks, t -> regexp_full_match(t, '[A-Za-z]+'))) AS n_word_tokens,
           len(list_filter(toks, t -> regexp_full_match(t, '[0-9]+'))) AS n_digit_tokens,
           len({TOKENS_SQL.format(c="text")}) AS n_ws_tokens
    FROM (SELECT doc_id, text,
                 regexp_extract_all(text, '{_BPE_PAT_SQL}') AS toks
          FROM documents)
    """,
)
def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn(
        "toks", F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    )
    word = F.size(F.filter("toks", lambda t: t.rlike(r"^[A-Za-z]+$")))
    digit = F.size(F.filter("toks", lambda t: t.rlike(r"^[0-9]+$")))
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_bpe_tokens"),
        word.cast("long").alias("n_word_tokens"),
        digit.cast("long").alias("n_digit_tokens"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# REAL BPE apply: the rank-ordered merge table of operators/bpe.py applied
# to every word (leftmost-first fold per merge, Sennrich apply order) —
# the actual tokenizer count a training pipeline budgets by, vs the regex
# pre-tokenizer ESTIMATE above. Pure Catalyst higher-order functions
# (transform/aggregate), zero UDFs, embarrassingly parallel; the oracle
# runs the identical fold as DuckDB list_reduce kernels. tok_hash_sum
# fingerprints the exact token identities (md5 per token, mod-M sum), so
# a hash match certifies the tokenization itself, not just the counts.
# ---------------------------------------------------------------------------
def _bpe_apply_oracle() -> str:
    from ..operators.bpe import bpe_tokens_sql

    toks = "flatten(list_transform(words, w -> " + bpe_tokens_sql("w") + "))"
    return f"""
    SELECT doc_id,
           len(words) AS n_words,
           CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS BIGINT)
             AS n_char_symbols,
           len(toks) AS n_bpe_merged_tokens,
           CAST(coalesce(list_sum(list_transform(toks, t ->
             {md5_long_sql('t')} % 2147483647)), 0) AS BIGINT) AS tok_hash_sum
    FROM (
      SELECT doc_id, words, {toks} AS toks
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS words
            FROM documents)
    )
    """


@query("t_bpe_apply", None)
def t_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_tokens

    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .withColumn("words", F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0))
        .withColumn("toks", F.flatten(F.transform("words", bpe_tokens)))
    )
    tok_hash = F.aggregate(
        "toks",
        F.lit(0).cast("long"),
        lambda acc, t: acc + md5_long(t) % F.lit(2147483647),
    )
    return d.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("n_char_symbols"),
        F.size("toks").cast("long").alias("n_bpe_merged_tokens"),
        tok_hash.alias("tok_hash_sum"),
    )


ORACLES["t_bpe_apply"] = _bpe_apply_oracle()


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer TRAINING (Sennrich et al. 2016 learn_bpe): reduce
# the corpus to a word-frequency table (the one corpus-scale shuffle), then
# iterate (pair-count → argmax → fuse) on the vocab-sized table. RUNTIME
# query: the merge chosen at step k depends on data, so the driver loop
# collects one argmax row per iteration and the plan is rebuilt per step
# (localCheckpoint keeps it O(1) deep). The oracle unrolls the same loop as
# a chained CTE per step — a full data-dependent training run, hash-checked.
# ---------------------------------------------------------------------------
N_TRAIN_MERGES = 8

_TRAIN_WORDS_SQL = """
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents)
  GROUP BY word
"""


def _bpe_train_oracle() -> str:
    from ..operators.bpe import bpe_train_sql

    return bpe_train_sql(N_TRAIN_MERGES, _TRAIN_WORDS_SQL)


@query("t_bpe_train_merges", None)
def t_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    words = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    merges = bpe_train(words, N_TRAIN_MERGES)
    rows = [(i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, merged string, pair_count long"
    )


ORACLES["t_bpe_train_merges"] = _bpe_train_oracle()


# ---------------------------------------------------------------------------
# Gopher-style repetition quality stats (Rae et al. 2021, Table A1 family):
# duplicate-bigram fraction, top-bigram fraction, duplicate-trigram fraction.
# Scale shape: the mode (top bigram) comes from ONE explode → two map-side-
# combined groupBys — linear in corpus size, codegen'd end to end, robust to
# arbitrarily long documents (no O(n·d) per-row higher-order lambda). The
# trigram dup-fraction never leaves the row: size(array_distinct(·)) on the
# in-row gram array, zero extra shuffle. Join back to per-doc base stats
# reuses the groupBy's hash partitioning on doc_id.
# ---------------------------------------------------------------------------
_TOKS = TOKENS_SQL.format(c="text")


@query(
    "t_repetition_stats",
    f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS}) AS n_tokens,
             {word_ngrams_sql("text", 3)} AS tg
      FROM documents WHERE len({_TOKS}) >= 3
    ),
    bg AS (
      SELECT doc_id, unnest({word_ngrams_sql("text", 2)}) AS g FROM documents
    ),
    bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    bgs AS (
      SELECT doc_id, SUM(c) AS total_bg, COUNT(*) AS distinct_bg,
             MAX(c) AS top_bg
      FROM bgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           (total_bg - distinct_bg) / total_bg AS dup_bigram_frac,
           top_bg / total_bg AS top_bigram_frac,
           (len(tg) - len(list_distinct(tg))) / len(tg) AS dup_trigram_frac
    FROM base b JOIN bgs USING (doc_id)
    """,
)
def t_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        word_ngrams(F.col("text"), 3).alias("tg"),
    ).filter(F.col("n_tokens") >= 3)
    bg = docs.select("doc_id", F.explode(word_ngrams(F.col("text"), 2)).alias("g"))
    bg_stats = (
        bg.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("total_bg"),
            F.count("*").alias("distinct_bg"),
            F.max("c").alias("top_bg"),
        )
    )
    return base.join(bg_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        ((F.col("total_bg") - F.col("distinct_bg")) / F.col("total_bg")).alias(
            "dup_bigram_frac"
        ),
        (F.col("top_bg") / F.col("total_bg")).alias("top_bigram_frac"),
        (
            (F.size("tg") - F.size(F.array_distinct("tg"))) / F.size("tg")
        ).alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination: flag corpus documents sharing any 5-word-gram
# with a held-out benchmark set (GPT-3 appendix-C style n-gram overlap).
# The benchmark here is a deterministic ~5% doc sample (md5(doc_id) % 20 =
# 1) standing in for an eval suite. Scale shape: the benchmark gram set is
# small by construction (eval suites, not corpora) → broadcast hash join
# against the exploded corpus grams, so the corpus never shuffles for the
# probe; only HIT rows (rare) reach the count-distinct and the final left
# join back to doc ids. At 100 TB the same plan holds with the gram set
# swapped for the real benchmark suite (or a bloom filter ahead of it).
# ---------------------------------------------------------------------------
_DECON_N = 5
_DECON_MOD = 20


def _decon_oracle() -> str:
    grams = word_ngrams_sql("text", _DECON_N)
    member = f"{md5_long_sql('CAST(doc_id AS VARCHAR)')} % {_DECON_MOD}"
    return f"""
    WITH d AS (
      SELECT doc_id, {grams} AS gs, {member} AS m FROM documents
    ),
    bench_set AS (
      SELECT DISTINCT {md5_long_sql('g')} AS gh
      FROM (SELECT unnest(gs) AS g FROM d WHERE m = 1)
    ),
    corpus AS (SELECT doc_id, gs FROM d WHERE m <> 1),
    cg AS (
      SELECT doc_id, {md5_long_sql('g')} AS gh
      FROM (SELECT doc_id, unnest(gs) AS g FROM corpus)
    ),
    hits AS (
      SELECT doc_id, COUNT(DISTINCT gh) AS n
      FROM cg JOIN bench_set USING (gh) GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS contaminated_ngrams,
           COALESCE(h.n, 0) > 0 AS is_contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)
    """


@query("t_decontaminate", _decon_oracle())
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id",
        word_ngrams(F.col("text"), _DECON_N).alias("gs"),
        (md5_long(F.col("doc_id").cast("string")) % _DECON_MOD).alias("m"),
    )
    bench_set = (
        docs.filter(F.col("m") == 1)
        .select(F.explode("gs").alias("g"))
        .select(md5_long(F.col("g")).alias("gh"))
        .distinct()
    )
    corpus = docs.filter(F.col("m") != 1)
    corpus_grams = corpus.select(
        "doc_id", F.explode("gs").alias("g")
    ).select("doc_id", md5_long(F.col("g")).alias("gh"))
    hits = (
        corpus_grams.join(F.broadcast(bench_set), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n"))
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("contaminated_ngrams"),
        (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval over the corpus for a fixed query, exact-rational scoring.
#
# Determinism: no ln() — engines don't guarantee bit-identical transcendental
# rounding, so idf is the linear variant (2N-2df+1)/(2df+1) and each term
# score is ONE double division of two int64 products (IEEE division is
# correctly rounded, so Spark and DuckDB agree bit-for-bit); the three term
# scores add in fixed sorted-term order. k1=6/5, b=3/4 folded into integers:
#   tf_part = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)   (≡ 2.2·tf / (tf + k1·(1-b+b·dl/avgdl)))
# int64 bound: products stay < 2^63 up to ~10^5 docs × 10^3 tokens per
# shard; beyond that, compute per-shard or widen to decimal(38,0).
#
# Scale shape: corpus stats (N, total tokens, per-term document frequencies)
# reduce to ONE row via map-side-combined aggregation, broadcast back, and
# scoring is per-row in-row (tf via list filter against literal terms — no
# explode, no shuffle); top-k is TakeOrderedAndProject. Two linear scans,
# zero wide exchanges, any corpus size.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("join", "spark", "vector")  # kept sorted: score addition order
_BM25_TOPK = 10


def _bm25_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    score = " + ".join(
        f"(CAST((2*n - 2*df_{t} + 1) * (22*tf_{t}*tt) AS DOUBLE)"
        f" / CAST((2*df_{t} + 1) * (10*tf_{t}*tt + 3*tt + 9*dl*n) AS DOUBLE))"
        for t in _BM25_TERMS
    )
    return f"""
    WITH base AS (
      SELECT doc_id, len(toks) AS dl, {tf_cols}
      FROM (SELECT doc_id, {toks} AS toks FROM documents)
    ),
    s AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tt, {df_cols}
      FROM base
    )
    SELECT doc_id, {score} AS bm25_score
    FROM base, s
    ORDER BY bm25_score DESC, doc_id LIMIT {_BM25_TOPK}
    """


@query("t_bm25_topdocs", _bm25_oracle())
def t_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    def tf_col(t: str):
        # single-param lambda: a second param would be treated as the index
        return (
            F.size(F.filter("toks", lambda x: x == F.lit(t)))
            .cast("long")
            .alias(f"tf_{t}")
        )

    base = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[tf_col(t) for t in _BM25_TERMS],
    )
    stats = base.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("tt"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def term_score(t: str):
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        n, tt, dl = F.col("n"), F.col("tt"), F.col("dl")
        num = (2 * n - 2 * df + 1) * (22 * tf * tt)
        den = (2 * df + 1) * (10 * tf * tt + 3 * tt + 9 * dl * n)
        return num.cast("double") / den.cast("double")

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25_score"))
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# quality-filter funnel: the per-rule drop report a curation pipeline ships
# with every corpus build. Rules apply in sequence (a doc counts against the
# FIRST rule it fails), so the output is a stage/rule/n_docs funnel that
# sums to the corpus. One linear pass: per-doc metrics are in-row Catalyst
# expressions, the funnel label is a CASE, and the only shuffle is the
# map-side-combined groupBy over <5 label values.
# ---------------------------------------------------------------------------
_FUNNEL_MIN_TOKENS = 15
_FUNNEL_MAX_DUP_TOK = 0.68
_FUNNEL_MIN_STOPWORD = 0.01


def _funnel_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    sw = stopword_count_sql("text", "en")
    return f"""
    WITH m AS (
      SELECT doc_id, len(toks) AS n_tokens,
             (len(toks) - len(list_distinct(toks))) / len(toks) AS dup_tok_frac,
             {sw} / len(toks) AS stopword_ratio
      FROM (SELECT doc_id, text, {toks} AS toks FROM documents)
    ),
    lab AS (
      SELECT CASE
        WHEN n_tokens < {_FUNNEL_MIN_TOKENS} THEN 'too_short'
        WHEN dup_tok_frac > {_FUNNEL_MAX_DUP_TOK} THEN 'too_repetitive'
        WHEN stopword_ratio < {_FUNNEL_MIN_STOPWORD} THEN 'stopword_poor'
        ELSE 'pass' END AS rule
      FROM m
    )
    SELECT CASE rule
             WHEN 'too_short' THEN 1 WHEN 'too_repetitive' THEN 2
             WHEN 'stopword_poor' THEN 3 ELSE 4 END AS stage,
           rule, COUNT(*) AS n_docs
    FROM lab GROUP BY rule
    """


@query("t_quality_funnel", _funnel_oracle())
def t_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn(
        "toks", tokens(F.col("text"))
    )
    n_tokens = F.size("toks")
    dup_tok_frac = (n_tokens - F.size(F.array_distinct("toks"))) / n_tokens
    stopword_ratio = stopword_count(F.col("text"), "en") / n_tokens
    rule = (
        F.when(n_tokens < _FUNNEL_MIN_TOKENS, F.lit("too_short"))
        .when(dup_tok_frac > _FUNNEL_MAX_DUP_TOK, F.lit("too_repetitive"))
        .when(stopword_ratio < _FUNNEL_MIN_STOPWORD, F.lit("stopword_poor"))
        .otherwise(F.lit("pass"))
    )
    stage = (
        F.when(F.col("rule") == "too_short", 1)
        .when(F.col("rule") == "too_repetitive", 2)
        .when(F.col("rule") == "stopword_poor", 3)
        .otherwise(4)
    )
    return (
        d.select(rule.alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n_docs"))
        .select(stage.cast("bigint").alias("stage"), "rule", "n_docs")
    )


# ---------------------------------------------------------------------------
# long-document chunking for embedding/index pipelines: fixed-size token
# windows with overlap (C=32, stride 24). All in-row: starts come from
# sequence(), the chunk explode is the only row-count change, and the chunk
# content hash certifies the exact token spans. No shuffle anywhere — the
# op is a pure flatMap at any corpus size.
# ---------------------------------------------------------------------------
_CHUNK_C = 32
_CHUNK_S = 24


def _chunks_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), {_CHUNK_S})) AS start_tok,
             generate_subscripts(range(0, len(toks), {_CHUNK_S}), 1) - 1 AS chunk_idx
      FROM d
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_C}, n - start_tok) AS BIGINT) AS n_chunk_toks,
           {md5_long_sql(f"array_to_string(toks[start_tok + 1:start_tok + least({_CHUNK_C}, n - start_tok)], ' ')")} AS chunk_hash
    FROM st
    """


@query("t_doc_chunks", _chunks_oracle())
def t_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_S))
    ex = d.select(
        "doc_id", "toks", n.alias("n"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    chunk_len = F.least(F.lit(_CHUNK_C), F.col("n") - F.col("start_tok"))
    chunk_text = F.concat_ws(
        " ", F.slice("toks", F.col("start_tok") + 1, chunk_len)
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        chunk_len.cast("long").alias("n_chunk_toks"),
        md5_long(chunk_text).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# domain-mixture plan: per-source token shares vs a uniform target mixture →
# the per-source sampling rate a curation run would apply. One map-side-
# combined groupBy to source granularity plus a broadcast single-row total;
# doubles are int-sum divisions (bit-identical cross-engine).
# ---------------------------------------------------------------------------
def _mixture_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({toks})) AS BIGINT) AS n_toks
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS t, COUNT(*) AS k FROM per)
    SELECT source, n_docs, n_toks,
           CAST(n_toks AS DOUBLE) / t AS token_share,
           least(1.0, (CAST(1 AS DOUBLE) / k) / (CAST(n_toks AS DOUBLE) / t))
             AS sampling_rate
    FROM per, tot
    """


@query("t_mixture_plan", _mixture_oracle())
def t_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).select(
        "source", F.size(tokens(F.col("text"))).alias("ntok")
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("ntok").alias("n_toks")
    )
    tot = per.agg(F.sum("n_toks").alias("t"), F.count("*").alias("k"))
    share = F.col("n_toks").cast("double") / F.col("t")
    target = F.lit(1).cast("double") / F.col("k")
    return per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_toks",
        share.alias("token_share"),
        F.least(F.lit(1.0), target / share).alias("sampling_rate"),
    )


# ---------------------------------------------------------------------------
# quality-weighted deterministic sampling: accept doc iff
# u(doc) < weight(doc), where u is the 60-bit md5 hash mapped to [0,1) and
# weight is the lexical-diversity score. Pure function of the row —
# reproducible under any partitioning/retry (same discipline as the
# train/val/test split), no rand(), no shuffle.
# ---------------------------------------------------------------------------
_U_DENOM = float(1 << 60)


def _qsample_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    w = f"(CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}))"
    u = f"(CAST({md5_long_sql('CAST(doc_id AS VARCHAR)')} AS DOUBLE) / {_U_DENOM!r})"
    return f"""
    SELECT doc_id, source,
           {w} AS weight,
           {u} < {w} AS accepted
    FROM documents
    """


@query("t_quality_weighted_sample", _qsample_oracle())
def t_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).withColumn(
        "toks", tokens(F.col("text"))
    )
    w = F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    u = md5_long(F.col("doc_id").cast("string")).cast("double") / F.lit(_U_DENOM)
    return d.select(
        "doc_id", "source", w.alias("weight"), (u < w).alias("accepted")
    )


# ---------------------------------------------------------------------------
# deterministic global corpus shuffle + sharding — the pretraining reorder
# step: shard = md5(doc_id) % K (uniform, key-only, reproducible under any
# partitioning/retry), intra-shard order = (md5, doc_id). At 100 TB this is
# exactly `repartition(K, shard)` + `sortWithinPartitions(h)` then a
# per-shard writer — ONE shuffle, no global sort, no sampled range
# boundaries (range partitioning would make shard membership depend on
# nondeterministic boundary samples). The gated result pins per-shard
# membership AND the intra-shard permutation via an order-sensitive
# checksum sum(pos * (h mod p)), so a hash match certifies the full
# shuffle order, not just bucket counts.
# ---------------------------------------------------------------------------
_N_SHUFFLE_SHARDS = 16
_SHUFFLE_P = 1_000_003  # keeps pos*(h%p) sums far inside int64


def _shuffle_oracle() -> str:
    h = md5_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(pos * (h % {_SHUFFLE_P})) AS BIGINT) AS order_checksum
    FROM (
      SELECT {h} % {_N_SHUFFLE_SHARDS} AS shard, {h} AS h, n_chars,
             ROW_NUMBER() OVER (PARTITION BY {h} % {_N_SHUFFLE_SHARDS}
                                ORDER BY {h}, doc_id) AS pos
      FROM documents
    )
    GROUP BY shard
    """


@query("t_global_shuffle_shards", _shuffle_oracle())
def t_global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    h = md5_long(F.col("doc_id").cast("string"))
    d = spread(read(spark, sf_dir, "documents"), spark).select(
        (h % _N_SHUFFLE_SHARDS).alias("shard"),
        h.alias("h"),
        "doc_id",
        "n_chars",
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("h", "doc_id")
    )
    return (
        d.withColumn("pos", pos.cast("long"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.col("pos") * (F.col("h") % _SHUFFLE_P)).alias(
                "order_checksum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction — rule-based scrubbing of emails / phone numbers / IPv4
# addresses, the standard pre-training curation pass. The synthetic corpus
# is PII-free by construction, so the query first INJECTS deterministic
# synthetic PII derived from doc_id (documented augmentation, not detector
# fakery: the regexes, replacement order, and counts are all exercised for
# real on every row). Patterns restrict to features with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): character classes and
# greedy counted repeats only — no alternation, no lookaround. Pure
# per-row Catalyst expressions: embarrassingly parallel, zero shuffles
# before the final ordering, the exact shape a 100 TB scrub pass needs.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\+[0-9][0-9-]{5,}[0-9]"
_PII_IP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def _pii_oracle() -> str:
    aug = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com +39-06-' || "
        "lpad(CAST(doc_id % 1000000 AS VARCHAR), 7, '0') || "
        "' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || "
        "CAST((doc_id * 7) % 250 AS VARCHAR)"
    )
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(aug, '{_PII_IP}')) AS BIGINT)
             AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(aug,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS scrubbed_hash,
           CAST(len(regexp_replace(regexp_replace(regexp_replace(aug,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS BIGINT) AS scrubbed_len
    FROM (SELECT doc_id, {aug} AS aug FROM documents)
    """


@query("t_pii_scrub", _pii_oracle())
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com +39-06-"),
        F.lpad((F.col("doc_id") % 1000000).cast("string"), 7, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 250).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", aug.alias("aug"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("aug", F.lit(_PII_EMAIL), 0))
            .cast("long")
            .alias("n_emails"),
            F.size(F.regexp_extract_all("aug", F.lit(_PII_PHONE), 0))
            .cast("long")
            .alias("n_phones"),
            F.size(F.regexp_extract_all("aug", F.lit(_PII_IP), 0))
            .cast("long")
            .alias("n_ips"),
            F.md5(scrubbed).alias("scrubbed_hash"),
            F.length(scrubbed).cast("long").alias("scrubbed_len"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph, citation-oriented — integer-exact,
# unrolled. Each near-dup pair contributes one directed edge from the
# LATER duplicate to the EARLIER document (duplicates "cite" their
# original), so rank mass concentrates on the canonical representative of
# every duplicate neighborhood — the keeper signal a dedup pass wants.
# (The symmetric orientation is a fixed point — every regular component
# holds uniform rank — which demonstrates nothing.) Determinism: ranks
# live in a 1e6-scaled integer domain; per-edge contributions are
# floor(rank/out_degree) and the damped update is 0.15e6 +
# floor(sum*85.0/100.0) — every division goes through the exact-double
# floor (sums < 2^53), no float accumulation order anywhere. Two
# iterations unrolled into ONE static plan (no driver loop; the
# convergence-driven variant is connected_components' iterative shape).
# Scale: each iteration is one ranks⋈degree node-local join, one
# edges⋈shares join co-partitioned on src, one groupBy(dst) — the
# standard distributed PR shuffle profile; dangling and isolated nodes
# ride the documents side of a left join and never enter the edge
# shuffles.
# ---------------------------------------------------------------------------
_PR_SCALE = 1_000_000
_PR_BASE = 150_000  # 0.15 damping, scaled
_PR_ITERS = 2
_PR_TOP = 20


def _pagerank_oracle() -> str:
    parts = [
        f"pairs AS ({_PAIR_SQL})",
        "edges AS (SELECT doc_b AS src, doc_a AS dst FROM pairs)",
        "deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)",
        f"r0 AS (SELECT doc_id AS node, CAST({_PR_SCALE} AS BIGINT) AS rank_q "
        "FROM documents)",
    ]
    for i in range(_PR_ITERS):
        parts.append(f"""r{i + 1} AS (
          SELECT d.doc_id AS node,
                 {_PR_BASE} + CAST(FLOOR((COALESCE(inc.s, 0) * 85.0) / 100.0)
                                   AS BIGINT) AS rank_q
          FROM documents d LEFT JOIN (
            SELECT e.dst, CAST(SUM(sh.c) AS BIGINT) AS s
            FROM (SELECT r.node,
                         CAST(FLOOR(CAST(r.rank_q AS DOUBLE) / g.degree)
                              AS BIGINT) AS c
                  FROM r{i} r JOIN deg g ON g.src = r.node) sh
                 JOIN edges e ON e.src = sh.node
            GROUP BY e.dst) inc ON inc.dst = d.doc_id)""")
    joined = ",\n".join(parts)
    return f"""
    WITH {joined}
    SELECT r.node AS doc_id, COALESCE(g.degree, 0) AS degree, r.rank_q
    FROM r{_PR_ITERS} r LEFT JOIN deg g ON g.src = r.node
    ORDER BY r.rank_q DESC, r.node LIMIT {_PR_TOP}
    """


@query("t_pagerank_similarity", _pagerank_oracle())
def t_pagerank_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # ONE materialization of the LSH pair pipeline: edges are referenced by
    # every iteration's contribution join, the degree build and the output
    # join — hash-partitioning them makes those subtrees canonically equal
    # so AQE's ReusedExchange computes the minhash candidate join once
    edges = pairs.select(
        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
    ).repartition(spark.sparkContext.defaultParallelism, "src")
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    ranks = docs.withColumn("rank_q", F.lit(_PR_SCALE).cast("long"))
    for _ in range(_PR_ITERS):
        shares = ranks.join(deg, ranks["node"] == deg["src"]).select(
            F.col("node").alias("snode"),
            F.floor(F.col("rank_q").cast("double") / F.col("degree"))
            .cast("long")
            .alias("c"),
        )
        contrib = edges.join(shares, edges["src"] == shares["snode"]).select("dst", "c")
        incoming = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("s"))
        ranks = docs.join(incoming, docs["node"] == incoming["dst"], "left").select(
            "node",
            (
                F.lit(_PR_BASE)
                + F.floor((F.coalesce(F.col("s"), F.lit(0)) * F.lit(85.0)) / F.lit(100.0)).cast(
                    "long"
                )
            ).alias("rank_q"),
        )
    return (
        ranks.join(deg, ranks["node"] == deg["src"], "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
            "rank_q",
        )
        .orderBy(F.desc("rank_q"), F.asc("doc_id"))
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# Triangle / wedge census of the near-dup similarity graph — the structural
# audit a dedup pass runs on its candidate graph: triangles mean mutually-
# similar triples (true duplicate neighborhoods); wedges WITHOUT closing
# triangles flag LSH band collisions that verification should have pruned
# (or chained borderline similarity). Per node we emit degree, centered
# wedge count C(deg,2) and triangle membership count — the ingredients of
# the local clustering coefficient, kept integer-exact so the gate hash is
# engine-portable.
#
# Algorithm (standard distributed triangle counting): edges arrive
# canonically oriented (doc_a < doc_b) from the LSH pair pipeline, so each
# triangle {a<b<c} is enumerated exactly once as wedge (a-b, b-c) closed by
# edge (a-c). Scale shape: wedge build is one self-join of the edge list on
# the shared vertex (co-partitioned, narrow 16-byte rows); closure is one
# equi-join of wedges against edges on the (a, c) pair key; membership is a
# 3-way posexplode + groupBy. No all-pairs stage anywhere — cost is
# O(sum of deg^2) like every degree-ordered triangle count, and the edge
# list is the LSH-verified pair set, orders of magnitude smaller than the
# corpus. The edge relation is hash-partitioned once and referenced three
# times (wedge a-side, wedge b-side, closure) so the SMJ regime reuses one
# exchange, mirroring t_pagerank_similarity's shape.
# ---------------------------------------------------------------------------
@query(
    "t_similarity_triangles",
    f"""
    WITH pairs AS ({_PAIR_SQL}),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    members AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tri_counts AS (
      SELECT doc_id, COUNT(*) AS n_triangles FROM members GROUP BY doc_id
    ),
    sym AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION ALL SELECT doc_b FROM pairs
    ),
    deg AS (SELECT doc_id, COUNT(*) AS degree FROM sym GROUP BY doc_id)
    SELECT d.doc_id, d.degree,
           CAST(d.degree * (d.degree - 1) / 2 AS BIGINT) AS n_wedges,
           COALESCE(t.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN tri_counts t ON t.doc_id = d.doc_id
    """,
)
def t_similarity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Adjacency-list formulation: the expensive LSH pair pipeline is
    # referenced exactly TWICE — once to build the per-node sorted neighbor
    # arrays (one explode + one groupBy), once as the closure probe — not
    # once per wedge/degree/membership consumer (a naive three-join
    # enumeration reads it six times; at scale that sextuples the shingle
    # pass unless exchange reuse catches every copy). Each node is the
    # CENTER of exactly one wedge per triangle it belongs to (its two
    # incident edges), so per-node triangle membership = closed wedges
    # centered there — no per-triangle 3-way explosion needed. Wedge pairs
    # come from the sorted neighbor array (x < y by construction, matching
    # the canonical doc_a < doc_b edge orientation); explode_outer keeps
    # degree-1 nodes in the output.
    from ..operators.graph import triangle_census

    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.repartition(spark.sparkContext.defaultParallelism, "doc_a")
    return triangle_census(edges)


# ---------------------------------------------------------------------------
# Blocked edit-distance near-dup join — the character-level complement to
# the token-level MinHash path: catches small in-place edits (typo fixes,
# single-word swaps) that keep most shingles intact but that a byte-exact
# dedup misses. Candidate generation is a BLOCKING equi-self-join on
# (lang, 32-char prefix): at 100 TB this is one narrow-key shuffle whose
# per-block fan-out is bounded by block size, never an all-pairs product.
# Verification is two-tier: an O(1) length-difference guard first (if
# |len(a)-len(b)| > k the distance cannot be <= k — prunes the DP off most
# survivors), then the banded Levenshtein via Spark's thresholded 3-arg
# ``levenshtein(l, r, k)`` which runs O(k*n) instead of O(n*m) and returns
# -1 past the threshold; values within the threshold equal the exact
# distance, which the DuckDB oracle recomputes with its unbounded
# ``levenshtein``. Prefix blocking trades recall for scale exactly like
# LSH banding does (an edit inside the first 32 chars moves the pair to a
# different block); production stacks several offset blocks the same way
# LSH stacks bands.
# ---------------------------------------------------------------------------
_ED_MAX = 8
_ED_PFX = 32


@query(
    "t_edit_distance_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, text, length(text) AS n,
             substring(text, 1, {_ED_PFX}) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           a.n AS len_a, b.n AS len_b
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE abs(a.n - b.n) <= {_ED_MAX}
      AND levenshtein(a.text, b.text) <= {_ED_MAX}
    """,
)
def t_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select(
            "doc_id",
            "lang",
            "text",
            F.length("text").alias("n"),
            F.substring("text", 1, _ED_PFX).alias("pfx"),
        )
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("pfx").alias("pfx_a"),
        F.col("text").alias("text_a"),
        F.col("n").alias("len_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("pfx").alias("pfx_b"),
        F.col("text").alias("text_b"),
        F.col("n").alias("len_b"),
    )
    cand = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("pfx_a") == F.col("pfx_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).filter(F.abs(F.col("len_a") - F.col("len_b")) <= _ED_MAX)
    # banded DP: O(k*n) and -1 past the threshold; within it, exact
    ed = F.levenshtein(F.col("text_a"), F.col("text_b"), _ED_MAX)
    return (
        cand.select(
            "doc_a",
            "doc_b",
            ed.cast("long").alias("edit_dist"),
            "len_a",
            "len_b",
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _ED_MAX))
    )


# ---------------------------------------------------------------------------
# rare-token ratio (quality signal): share of a doc's tokens whose corpus
# document-frequency is under 10% of the corpus — the "unusual vocabulary"
# axis of LLM-data quality scoring. Scale shape: the df table is
# VOCABULARY-sized (≪ corpus), so it broadcasts to the token-level probe
# join; the only corpus-sized shuffles are the df groupBy and the final
# per-doc groupBy, both map-side combined. (At a 100 TB corpus whose
# vocabulary outgrows broadcast, the probe join falls back to a shuffle
# join on the token key — same plan minus the hint.)
# ---------------------------------------------------------------------------
@query(
    "t_rare_token_ratio",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_SQL.format(c="text")}) AS tok FROM documents
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN d.df * 10 < n.n_docs THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN d.df * 10 < n.n_docs THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_ratio
    FROM toks t JOIN df d USING (tok) CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def t_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single corpus scan: explode once, collapse to (doc_id, tok, cnt)
    # [one keyed shuffle], then derive BOTH the per-token df table and the
    # per-doc stats from that much smaller relation — no second explode.
    d = spread(read(spark, sf_dir, "documents"), spark)
    per_doc_tok = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    # one row per (doc, tok) ⇒ df = plain count per tok (no distinct)
    df_tab = per_doc_tok.groupBy("tok").agg(F.count("*").alias("df"))
    # doc_id is unique per documents row: corpus size is a plain count —
    # a doc_id-only scan + one partial-agg, no distinct exchange
    n_docs = d.agg(F.count("*").alias("n_docs"))
    probe = per_doc_tok.join(F.broadcast(df_tab), "tok").crossJoin(
        F.broadcast(n_docs)
    )
    rare = F.when(F.col("df") * 10 < F.col("n_docs"), F.col("cnt")).otherwise(
        F.lit(0)
    )
    return probe.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(rare).cast("long").alias("n_rare"),
        (F.sum(rare).cast("double") / F.sum("cnt")).alias("rare_ratio"),
    )


# ---------------------------------------------------------------------------
# incremental near-dup maintenance on a document STREAM: each micro-batch
# computes its docs' MinHash band keys, appends them (and the shingle sets)
# to a band store, probes the store for candidate pairs touching the batch,
# verifies exact Jaccard, and appends confirmed pairs. A pair is emitted
# exactly when its LATER document arrives — so after the stream drains, the
# accumulated pair table must equal the one-shot batch LSH, and the gate
# reuses t_minhash_lsh_pairs' oracle verbatim. This is the LLM-pipeline
# "dedup-on-ingest" shape: per batch, work is (batch bands) ⋈ (store bands)
# on narrow (band_idx, bkey) keys — O(batch × collision density), never a
# rescan of the corpus; the band/shingle stores only append.
# ---------------------------------------------------------------------------
def t_stream_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-lsh-gate-")
    third = (
        md5_long(F.concat(F.lit("lshsplit:"), F.col("doc_id").cast("string"))) % 3
    )
    stream = staged_stream(workdir, [docs.filter(third == i) for i in range(3)])

    bands_dir = f"{workdir}/bands"
    sh_dir = f"{workdir}/shingles"
    pairs_dir = f"{workdir}/pairs"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        d = batch_df.select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
        sigs = d.withColumn("sig", minhash_signature(F.col("sh"), _K))
        bands = sigs.select(
            "doc_id",
            F.posexplode(
                F.array(*[band_key(F.col("sig"), bi, _R) for bi in range(_B)])
            ).alias("band_idx", "bkey"),
        )
        # append this batch's state FIRST so within-batch pairs form too
        d.write.mode("append").parquet(sh_dir)
        bands.write.mode("append").parquet(bands_dir)
        store = s.read.parquet(bands_dir)
        cand = (
            bands.alias("a")
            .join(
                store.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        shs = s.read.parquet(sh_dir)
        x = shs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        y = shs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        ver = cand.join(x, "doc_a").join(y, "doc_b")
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
        (
            ver.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= _LSH_THRESH)
            .write.mode("append")
            .parquet(pairs_dir)
        )

    drain(
        stream.writeStream.foreachBatch(merge),
        f"{workdir}/ckpt",
        "t_stream_lsh_pairs",
    )
    # a pair forms exactly once (its later doc's batch); distinct guards the
    # value hash against any at-least-once replay of a batch
    return spark.read.parquet(pairs_dir).distinct()


QUERIES["t_stream_lsh_pairs"] = t_stream_lsh_pairs
ORACLES["t_stream_lsh_pairs"] = ORACLES["t_minhash_lsh_pairs"]


# ---------------------------------------------------------------------------
# word-n-gram Jaccard near-dup join with PREFIX FILTERING (PPJoin-style):
# order every doc's distinct 3-grams rarest-first (global df, gram as
# tiebreak) and emit only the first |G| − ⌈θ·|G|⌉ + 1 grams as join keys —
# provably LOSSLESS for Jaccard ≥ θ (if no prefix gram were shared, the
# intersection would fit inside the ⌈θ|G|⌉−1 suffix, contradicting
# |A∩B| ≥ θ·|A|). The oracle is the QUADRATIC all-pairs Jaccard, so the
# gate certifies the blocking loses nothing. Scale shape: candidates come
# from an equi-join on prefix grams (rarest grams ⇒ smallest fan-out);
# the df table and the prefix window are one gram-keyed and one doc-keyed
# exchange; nothing is all-pairs.
# ---------------------------------------------------------------------------
_NGJ_N = 3
_NGJ_THRESH = 0.6


@query(
    "t_ngram_jaccard_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, list_distinct({word_ngrams_sql("text", _NGJ_N)}) AS g
      FROM documents
    ), dn AS (
      SELECT doc_id, g FROM d WHERE len(g) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
             AS jaccard
    FROM dn a JOIN dn b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
          >= {_NGJ_THRESH}
    """,
)
def t_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # the plan references the gram-array relation three times (explode leg
    # + both verify sides): pin ONE hash exchange under it so ReuseExchange
    # collapses the subtrees and the tokenize+ngram pass runs once — the
    # same scale pivot as the MinHash LSH shingle exchange above
    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(F.col("text"), _NGJ_N)).alias("g"),
        )
        .filter(F.size("g") > 0)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    ex = d.select("doc_id", F.explode("g").alias("gram"))
    # g is distinct per doc ⇒ df = plain count per gram (no distinct agg)
    dfr = ex.groupBy("gram").agg(F.count("*").alias("df"))
    # rarest-first total order (df, gram); prefix length |G|−⌈θ|G|⌉+1.
    # The df join shuffles on gram (the 3-gram vocabulary outgrows any
    # broadcast at corpus scale); the window is one doc_id exchange.
    ranked = ex.join(dfr, "gram")
    w = Window.partitionBy("doc_id")
    ranked = ranked.select(
        "doc_id",
        "gram",
        F.row_number().over(w.orderBy("df", "gram")).alias("rn"),
        F.count("*").over(w).alias("sz"),
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz") - F.ceil(F.col("sz") * F.lit(_NGJ_THRESH)) + 1
    )
    # size filter rides the same join (lossless too: J ≥ θ ⇒ θ·|A| ≤ |B|
    # ≤ |A|/θ) — on low-entropy corpora where rarest-gram df is still
    # large, the length band is what keeps the candidate set near-linear
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * F.lit(1.0) >= F.col("a.sz") * F.lit(_NGJ_THRESH))
            & (F.col("a.sz") * F.lit(1.0) >= F.col("b.sz") * F.lit(_NGJ_THRESH)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    # explicit fan-out for the verification stage: its array_intersect work
    # is CPU-dense but byte-light, so AQE's size-based coalescing would
    # serialize it locally; a fixed-width repartition keeps every core on
    # it (at cluster scale the candidate volume makes this a no-op choice)
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "doc_a")
    ver = cand.join(x, "doc_a").join(y, "doc_b")
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    jac = inter.cast("double") / (F.size("g_a") + F.size("g_b") - inter)
    return ver.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= _NGJ_THRESH
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the classic relevance/keyword-extraction
# signal a corpus pipeline derives before retrieval or topic bucketing.
# Determinism discipline: idf is kept RATIONAL (tf·N/df) and surfaced as a
# 1e6-scaled bigint via integer floor division — identical in Spark (`div`)
# and DuckDB (`//`), no log()/double whose last ulp could differ across
# engines. Scale shape: explode → map-side-combined (doc,term) count →
# term-df count (second partial agg) → shuffle join co-partitioned on term
# (the vocabulary outgrows any broadcast at corpus scale) → ONE doc_id
# window for the top-k. N rides a broadcast one-row aggregate, never a
# driver collect.
# ---------------------------------------------------------------------------
_TFIDF_TOP = 3


@query(
    "t_tfidf_topterms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_SQL.format(c="text")}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             (t.tf * n.n_docs * 1000000) // d.df AS tfidf_micro
      FROM tf t JOIN dfr d ON d.term = t.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf_micro, rk FROM (
      SELECT *, CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rk
      FROM scored)
    WHERE rk <= {_TFIDF_TOP}
    """,
)
def t_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read(spark, sf_dir, "documents")
    toks = spread(docs, spark).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # pin the tf relation's exchange on term: BOTH consumers (the df
    # re-aggregate and the score join) need term partitioning, so
    # ReuseExchange collapses them and the tokenize+explode+count pass
    # runs ONCE — without the pin each consumer rebuilds the tf subtree
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .repartition(spark.sparkContext.defaultParallelism, "term")
    )
    dfr = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfr, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_micro", F.expr("(tf * n_docs * 1000000) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "tfidf_micro", "rk")
    )


# ---------------------------------------------------------------------------
# Corpus-derived boilerplate n-gram filter (C4/RefinedWeb-style): a 3-gram
# that recurs across ≥ max(⌈N/200⌉, 2) DISTINCT documents is boilerplate
# (site chrome, license blurbs, navigation text); each doc reports how much
# of its distinct-gram mass that set covers. The threshold is RELATIVE to
# corpus size (integer ceiling division — identical in both engines) so the
# operator is meaningful at every scale factor. Scale shape: the boilerplate
# set is small BY CONSTRUCTION (grams above a corpus-wide df floor), so the
# probe-back is a broadcast hash join — the same shape as decontamination,
# but with the probe set derived from the corpus itself (one extra partial
# agg) instead of an external benchmark. Density is a 1e6-scaled bigint
# (floor division), never a float ratio.
# ---------------------------------------------------------------------------
_BOIL_N = 3


@query(
    "t_boilerplate_ngrams",
    f"""
    WITH d AS (
      SELECT doc_id, list_distinct({word_ngrams_sql("text", _BOIL_N)}) AS g
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM d WHERE len(g) > 0),
    dfr AS (SELECT gram, count(*) AS df FROM ex GROUP BY gram),
    n AS (SELECT count(*) AS n_docs FROM documents),
    boiler AS (
      SELECT gram FROM dfr CROSS JOIN n
      WHERE df >= greatest((n_docs + 199) // 200, 2)
    )
    SELECT e.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           (CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000) // count(*) AS density_micro
    FROM ex e LEFT JOIN boiler b ON b.gram = e.gram
    GROUP BY e.doc_id
    """,
)
def t_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    d = (
        spread(docs, spark)
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(F.col("text"), _BOIL_N)).alias("g"),
        )
        .filter(F.size("g") > 0)
    )
    # SINGLE-PASS shape: df per gram comes from a count window over the
    # gram partition of the one exploded stream, not from an aggregate
    # joined back (that join formulation re-ran the tokenize → ngram →
    # distinct pipeline per consumer — column pruning makes the two
    # exchange subtrees non-canonical, so ReuseExchange can't merge them;
    # measured 6.9 s vs 2.9 s at sf0.1). One gram exchange + one doc_id
    # aggregate are the only shuffles at any scale.
    from pyspark.sql import Window

    ex = d.select("doc_id", F.explode("g").alias("gram")).repartition(
        spark.sparkContext.defaultParallelism, "gram"
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    marked = ex.withColumn(
        "df", F.count("*").over(Window.partitionBy("gram"))
    ).crossJoin(F.broadcast(n))
    is_b = (
        F.col("df")
        >= F.greatest(F.expr("(n_docs + 199) div 200"), F.lit(2))
    ).cast("long")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(is_b).cast("long").alias("n_boiler"),
        )
        .withColumn("density_micro", F.expr("(n_boiler * 1000000) div n_grams"))
    )


# ---------------------------------------------------------------------------
# Link prediction over the near-dup similarity graph: for every NON-edge
# pair with at least one common neighbor, common-neighbor count and the
# resource-allocation index Σ_z 1/deg(z) (1e6-scaled integer floor per
# term — exact in both engines; Adamic-Adar's 1/log deg is irrational and
# would never hash-match cross-engine). The graph is the SimHash band graph
# at hamming ≤ 8 — looser than t_simhash_pairs' ≤ 6 so duplicate
# neighborhoods are NOT already closed into cliques and prediction has
# candidates. Scale shape (standard distributed wedge enumeration, same
# family as t_similarity_triangles): pairs → per-row explode into both
# directed edges (ONE pass — no self-union that would recompute the
# simhash pipeline per branch) → one hash exchange on the wedge center
# feeds BOTH wedge-join sides and the degree aggregate (ReuseExchange) →
# groupBy(a,b) → anti-join against the edge set. Wedge volume is Σ deg²,
# bounded by the hamming band — never all-pairs.
# ---------------------------------------------------------------------------
_LP_HAM = 8
_LP_TOP = 20


def _lp_pair_sql() -> str:
    return f"""
    sh AS (SELECT doc_id, {simhash_sql("text")} AS h FROM documents),
    chunks AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, h, {c} AS chunk_idx, "
        f"(h >> {c * _CHUNK_BITS}) & {(1 << _CHUNK_BITS) - 1} AS ckey FROM sh"
        for c in range(_N_CHUNKS)
      )}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.ckey = b.ckey
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= {_LP_HAM}
    )"""



def _simhash_band_edges(spark: SparkSession, sf_dir: str):
    """Shared (pairs, edges) builder for the hamming ≤ 8 SimHash graph.

    t_link_prediction and t_kcore_peel MUST build byte-identical edge
    subtrees: the kcore gate lazily persists ``edges`` and the
    link-prediction gate relies on Spark's CacheManager substituting that
    cache by canonical-plan equality — one shared constructor makes the
    coupling structural instead of copy-paste discipline (the SQL side is
    the shared _lp_pair_sql the same way)."""
    d = simhash_docs(spread(read(spark, sf_dir, "documents"), spark))
    mask = (1 << _CHUNK_BITS) - 1
    chunks = d.select(
        "doc_id",
        "h",
        F.posexplode(
            F.array(*[
                F.shiftright("h", c * _CHUNK_BITS).bitwiseAND(F.lit(mask))
                for c in range(_N_CHUNKS)
            ])
        ).alias("chunk_idx", "ckey"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming60(F.col("a.h"), F.col("b.h")) <= _LP_HAM)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # both directed edges from ONE pass over pairs (explode, not a
    # self-union that would rebuild the simhash pipeline per branch),
    # pinned on the wedge-center key u
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .repartition(spark.sparkContext.defaultParallelism, "u")
    )
    return pairs, edges


@query(
    "t_link_prediction",
    f"""
    WITH {_lp_pair_sql()},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u AS z, count(*) AS d FROM edges GROUP BY u),
    wedge AS (
      SELECT e1.v AS a, e2.v AS b, e1.u AS z
      FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
    ),
    agg AS (
      SELECT w.a, w.b,
             count(*) AS cn,
             CAST(sum(1000000 // g.d) AS BIGINT) AS ra_micro
      FROM wedge w JOIN deg g ON g.z = w.z
      GROUP BY w.a, w.b
    )
    SELECT agg.a AS doc_a, agg.b AS doc_b, agg.cn, agg.ra_micro
    FROM agg LEFT JOIN pairs p ON p.doc_a = agg.a AND p.doc_b = agg.b
    WHERE p.doc_a IS NULL
    ORDER BY ra_micro DESC, cn DESC, doc_a, doc_b
    LIMIT {_LP_TOP}
    """,
)
def t_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared edge construction: ONE hash exchange on the wedge-center key
    # u feeds the two wedge sides, the degree aggregate, and (as u<v) the
    # anti-join probe side
    _, edges = _simhash_band_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
    ).select(
        F.col("e1.v").alias("a"), F.col("e2.v").alias("b"), F.col("e1.u").alias("z")
    )
    agg = (
        wedge.join(deg.select(F.col("u").alias("z"), "d"), "z")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("ra_micro"),
        )
    )
    non_edges = agg.join(
        edges.filter(F.col("u") < F.col("v")),
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "cn", "ra_micro"
        )
        .orderBy(
            F.col("ra_micro").desc(), F.col("cn").desc(), "doc_a", "doc_b"
        )
        .limit(_LP_TOP)
    )


# ---------------------------------------------------------------------------
# MinHash estimator audit: for every LSH band-collision candidate pair,
# the signature-based Jaccard ESTIMATE (matching positions / k) next to
# the exact shingle Jaccard — the per-pair evidence that k=16 signatures
# track true similarity, i.e. the measured error a user consults before
# trusting banded dedup at 100 TB (the corpus-wide complement of the
# fixed-K t_near_dup_sample_pairs density audit). No similarity threshold:
# the full candidate range is the point. The estimate is exact integer
# arithmetic (matches·1e6 div k); the plan is the LSH scale shape — ONE
# posexplode for both bands, narrow (doc_id, band, bkey) self-join,
# signature/shingle arrays joined back once per side over the one reused
# doc_id exchange.
# ---------------------------------------------------------------------------

def _lsh_banded_candidates(spark: SparkSession, sf_dir: str):
    """Shared (docs, sigs, cand) builder for the K=16/R=8/B=2 MinHash LSH
    banding: the pinned doc_id exchange under the shingled relation, the
    single posexplode over band keys, and the narrow (band, bkey)
    candidate self-join. t_minhash_estimate_audit and t_dup_span_stats
    derive from this one constructor so the banding constants and the
    exchange discipline can never drift between the audit surfaces and
    the certified pair query they audit (whose own body predates the
    helper and is fingerprint-tail-guarded)."""
    docs = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    sigs = docs.withColumn("sig", minhash_signature(F.col("sh"), _K))
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(F.col("sig"), b, _R) for b in range(_B)])
        ).alias("band_idx", "bkey"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return docs, sigs, cand


@query(
    "t_minhash_estimate_audit",
    f"""
    WITH docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {minhash_signature_sql("sh", _K)} AS sig FROM docs
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {band_key_sql('sig', b, _R)} AS bkey FROM sigs"
        for b in range(_B)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(list_sum(list_transform(range({_K}),
                i -> CASE WHEN x.sig[i + 1] = y.sig[i + 1] THEN 1 ELSE 0 END))
             AS BIGINT) AS sig_matches,
           (CAST(list_sum(list_transform(range({_K}),
                i -> CASE WHEN x.sig[i + 1] = y.sig[i + 1] THEN 1 ELSE 0 END))
             AS BIGINT) * 1000000) // {_K} AS est_micro,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
             AS jaccard
    FROM cand c JOIN sigs x ON c.doc_a = x.doc_id
                JOIN sigs y ON c.doc_b = y.doc_id
    """,
)
def t_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sigs, cand = _lsh_banded_candidates(spark, sf_dir)
    x = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    y = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    ver = cand.join(x, "doc_a").join(y, "doc_b")
    matches = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda p, q: p == q),
                lambda v: v,
            )
        )
        .cast("long")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return ver.select(
        "doc_a",
        "doc_b",
        matches.alias("sig_matches"),
        F.expr(f"(sig_matches * 1000000) div {_K}").alias("est_micro"),
        jac.alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# k-core peeling over the near-dup graph (3 unrolled rounds, k = 3): drop
# nodes of degree < k, recompute degrees over the surviving subgraph,
# repeat — the density filter that separates tight duplicate communities
# (template families, mirror clusters) from incidental band collisions.
# A convergence-driven peel is t_dup_clusters' iterative shape; here the
# rounds are UNROLLED into one static plan (the pagerank discipline), so
# the whole peel is a fingerprintable DAG: each round is edges ⋈ survivors
# (semi, both endpoints) + one map-side-combined degree groupBy, all
# reading the ONE pinned edge exchange; survivor sets only shrink, and at
# cluster scale they broadcast.
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = [
        f"{_lp_pair_sql()}",
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "s0 AS (SELECT DISTINCT u AS node FROM edges)",
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"d{i + 1} AS (SELECT e.u, count(*) AS c FROM edges e"
            f" JOIN s{i} a ON e.u = a.node JOIN s{i} b ON e.v = b.node"
            f" GROUP BY e.u)"
        )
        parts.append(
            f"s{i + 1} AS (SELECT u AS node FROM d{i + 1} WHERE c >= {_KCORE_K})"
        )
    joined = ",\n".join(parts[1:])
    return f"""
    WITH {parts[0]},
    {joined}
    SELECT u AS doc_id, CAST(c AS BIGINT) AS deg
    FROM d{_KCORE_ROUNDS} WHERE c >= {_KCORE_K}
    """


@query("t_kcore_peel", _kcore_oracle())
def t_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LAZY persist on the shared edge list and each survivor set: every
    # unrolled round references its predecessor twice (both semi-join
    # sides), so a pure-expression chain duplicates the simhash pipeline
    # exponentially (measured: 75 Generate nodes, 8.8 s). Cache
    # substitution happens at PHYSICAL planning, so the analyzed-plan
    # fingerprint stays static and no job runs at build time (not a
    # runtime query), while execution reads the band pipeline once and
    # tiny cached survivor tables thereafter — the
    # materialize-per-iteration posture of distributed graph processing,
    # with bounded unrolling. (The cache also substitutes into
    # t_link_prediction's identical edge subtree — see
    # _simhash_band_edges.)
    _, edges = _simhash_band_edges(spark, sf_dir)
    edges = edges.persist()
    surv = edges.select(F.col("u").alias("node")).distinct()
    deg = None
    for _ in range(_KCORE_ROUNDS):
        surv = surv.persist()
        alive = (
            edges.join(
                F.broadcast(surv.select(F.col("node").alias("u"))), "u", "left_semi"
            ).join(
                F.broadcast(surv.select(F.col("node").alias("v"))), "v", "left_semi"
            )
        )
        deg = alive.groupBy("u").agg(F.count("*").alias("c"))
        surv = deg.filter(F.col("c") >= _KCORE_K).select(
            F.col("u").alias("node")
        )
    return deg.filter(F.col("c") >= _KCORE_K).select(
        F.col("u").alias("doc_id"), F.col("c").alias("deg")
    )


# ---------------------------------------------------------------------------
# Longest duplicated span per near-dup pair ("Deduplicating Training Data
# Makes Language Models Better" evidence): for every verified LSH pair,
# align positional 5-grams on the diagonal (pos_a − pos_b) and measure the
# longest CONSECUTIVE run of matching grams — a run of L grams certifies a
# shared span of L+4 tokens, the quantity an exact-substring dedup pass
# thresholds on. The classic suffix-array formulation is sequential; this
# is its distributed twin: candidate pairs come from the banded LSH join
# (never all-pairs), positional grams explode linearly, the alignment is
# an equi-join on (pair, gram), and runs are gaps-and-islands — one
# window per (pair, diagonal) — so every stage is a keyed shuffle.
# ---------------------------------------------------------------------------
_SPAN_N = 5


@query(
    "t_dup_span_stats",
    f"""
    WITH pairs AS ({_PAIR_SQL}),
    d AS (
      SELECT doc_id, {word_ngrams_sql("text", _SPAN_N)} AS g FROM documents
    ),
    ex AS (
      SELECT doc_id, unnest(range(len(g))) AS pos, g FROM d WHERE len(g) > 0
    ),
    ga AS (SELECT doc_id, pos, g[CAST(pos AS INTEGER) + 1] AS gram FROM ex),
    m AS (
      SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b,
             a.pos - b.pos AS diag
      FROM pairs p
        JOIN ga a ON a.doc_id = p.doc_a
        JOIN ga b ON b.doc_id = p.doc_b AND b.gram = a.gram
    ),
    isl AS (
      SELECT doc_a, doc_b, diag, pos_a,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pos_a) AS island
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_grams
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(SUM(run_grams) AS BIGINT) AS n_gram_matches,
           CAST(MAX(run_grams) AS BIGINT) AS max_run_grams,
           CAST(MAX(run_grams) + {_SPAN_N - 1} AS BIGINT) AS max_span_tokens
    FROM runs GROUP BY doc_a, doc_b
    """,
)
def t_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs, _, cand = _lsh_banded_candidates(spark, sf_dir)
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    pairs = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(jac >= _LSH_THRESH)
        .select("doc_a", "doc_b")
    )
    ga = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", word_ngrams(F.col("text"), _SPAN_N).alias("g"))
        .filter(F.size("g") > 0)
        .select("doc_id", F.posexplode("g").alias("pos", "gram"))
    )
    m = (
        pairs.join(
            ga.select(
                F.col("doc_id").alias("doc_a"),
                F.col("pos").alias("pos_a"),
                "gram",
            ),
            "doc_a",
        )
        .join(
            ga.select(
                F.col("doc_id").alias("doc_b"),
                F.col("pos").alias("pos_b"),
                F.col("gram").alias("gram_b"),
            ),
            "doc_b",
        )
        .filter(F.col("gram") == F.col("gram_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn("island", F.col("pos_a") - F.row_number().over(w))
    runs = isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count("*").alias("run_grams")
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.sum("run_grams").cast("long").alias("n_gram_matches"),
        F.max("run_grams").cast("long").alias("max_run_grams"),
        (F.max("run_grams") + F.lit(_SPAN_N - 1)).cast("long").alias("max_span_tokens"),
    )


# ---------------------------------------------------------------------------
# Python UDTF twin of the chunker (Spark 4 `@udtf` API surface): the SAME
# overlapping-window chunk table produced by a user-defined TABLE function
# in a lateral join, certified against the SAME oracle as t_doc_chunks.
# The Catalyst formulation (t_doc_chunks: sequence + posexplode + slice,
# pure flatMap, zero Python) remains the scale path; this twin exists to
# certify the UDTF plumbing end to end — argument binding, lateral row
# explosion, Arrow transfer, and the portable hash (md5_long_py must
# reproduce the engine-side md5_long bit for bit) — so a user who NEEDS a
# UDTF (logic no built-in expresses) inherits a proven harness.
# ---------------------------------------------------------------------------
def t_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from pyspark.sql.functions import udtf

    from ..functions.hashing import md5_long_py

    chunk_c, chunk_s = _CHUNK_C, _CHUNK_S

    @udtf(
        returnType=(
            "chunk_idx bigint, start_tok bigint, n_chunk_toks bigint, "
            "chunk_hash bigint"
        )
    )
    class ChunkUDTF:
        def eval(self, text: str):
            toks = _re.split(r"\s+", (text or "").strip())
            n = len(toks)
            idx = 0
            for start in range(0, n, chunk_s):
                ln = min(chunk_c, n - start)
                yield (
                    idx,
                    start,
                    ln,
                    md5_long_py(" ".join(toks[start : start + ln])),
                )
                idx += 1

    spark.udtf.register("cdc_chunk_udtf", ChunkUDTF)
    spread(read(spark, sf_dir, "documents"), spark).createOrReplaceTempView(
        "_udtf_chunks_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.start_tok, c.n_chunk_toks, c.chunk_hash
        FROM _udtf_chunks_docs d, LATERAL cdc_chunk_udtf(d.text) c
        """
    )


QUERIES["t_udtf_chunks"] = t_udtf_chunks
ORACLES["t_udtf_chunks"] = _chunks_oracle()


# ---------------------------------------------------------------------------
# content-defined chunking (FastCDC-lite): rolling-hash cut positions →
# per-chunk (start, length, content hash). This is the sub-document exact
# dedup stage real 100 TB pipelines run BEFORE document-level near-dup:
# because a boundary is a pure function of its local 8-char window, the
# same passage embedded in two different documents (at different offsets)
# yields the SAME interior chunks — a fixed-size chunker would misalign
# them. Downstream dedup is then t_exact_dedup-shaped: hash-groupBy on
# chunk_hash. The extraction itself is a pure flatMap — one Generate over
# in-row arrays, ZERO exchanges at any corpus size (plan-asserted) — so
# the 100 TB cost is one scan. Expected chunk length ~= CDC_D = 64 chars
# (measured 60.9 on the corpus). Spark: sequence/filter builds the cut
# array in-row, posexplode(arrays_zip(starts, ends)) emits chunks, substr
# + md5 hash the exact span. Oracle: identical arithmetic in DuckDB list
# functions (same polynomial constants, generated from one Python source
# of truth in operators/text.py).
# ---------------------------------------------------------------------------
def _content_chunks_oracle(src: str = "documents") -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, text, len(text) AS n,
             {content_cut_positions_sql("text")} AS cuts
      FROM {src}
    ),
    se AS (
      SELECT doc_id, text,
             list_prepend(CAST(1 AS BIGINT), list_transform(cuts, c -> c + 1)) AS starts,
             list_append(cuts, CAST(n AS BIGINT)) AS ends
      FROM d
    ),
    ex AS (
      SELECT doc_id, text, starts, ends, unnest(range(len(starts))) AS i
      FROM se
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           starts[CAST(i + 1 AS INTEGER)] AS chunk_start,
           ends[CAST(i + 1 AS INTEGER)] - starts[CAST(i + 1 AS INTEGER)] + 1 AS chunk_len,
           {md5_long_sql("substr(text, CAST(starts[CAST(i + 1 AS INTEGER)] AS INTEGER), CAST(ends[CAST(i + 1 AS INTEGER)] - starts[CAST(i + 1 AS INTEGER)] + 1 AS INTEGER))")} AS chunk_hash
    FROM ex
    """


def _chunk_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → content-defined chunk rows (doc_id, chunk_idx,
    chunk_start, chunk_len, chunk_hash). Map-only either way — zero
    exchanges at any corpus size: documents up to CDC_LONG_DOC run the
    pure-Catalyst flatMap (in-row cut arrays, one Generate); longer
    documents route through the Arrow ``mapInPandas`` kernel, because the
    Catalyst per-position substr is a char-offset walk (O(n²/2) per doc —
    fine at web-doc KBs, a CPU cliff at multi-MB). Both paths evaluate the
    identical cut law, so the union is cut-for-cut deterministic."""
    from ..operators.text import CDC_LONG_DOC, CHUNK_ROW_SCHEMA, chunk_long_doc_batches

    long_part = (
        docs.select("doc_id", "text")
        .filter(F.length("text") > CDC_LONG_DOC)
        .mapInPandas(chunk_long_doc_batches, CHUNK_ROW_SCHEMA)
    )
    d = (
        docs.select("doc_id", "text")
        .filter(F.length("text") <= CDC_LONG_DOC)
        .withColumn("cuts", content_cut_positions(F.col("text")))
        .withColumn(
            "starts",
            F.concat(F.array(F.lit(1)), F.transform("cuts", lambda c: c + 1)),
        )
        .withColumn("ends", F.concat(F.col("cuts"), F.array(F.length("text"))))
    )
    ex = d.select(
        "doc_id",
        "text",
        F.posexplode(F.arrays_zip("starts", "ends")).alias("chunk_idx", "se"),
    )
    s = F.col("se.starts")
    e = F.col("se.ends")
    chunk_len = e - s + 1
    short_part = ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        s.cast("long").alias("chunk_start"),
        chunk_len.cast("long").alias("chunk_len"),
        md5_long(F.col("text").substr(s, chunk_len)).alias("chunk_hash"),
    )
    return short_part.unionByName(long_part)


@query("t_content_chunks", _content_chunks_oracle())
def t_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunk_rows(spread(read(spark, sf_dir, "documents"), spark))


# ---------------------------------------------------------------------------
# sub-document dedup measurement over the content-defined chunks: group
# identical (chunk_hash, chunk_len) spans, keep groups that occur >= 2
# times with chunk_len >= 16 (a POST-filter — not a chunking clamp, so
# boundary selection stays embarrassingly parallel; the floor just drops
# short-string hash groups that aren't meaningful shared passages), and
# report the mass a dedup pass would drop: (n_occ - 1) * chunk_len chars
# per group, keeper = min doc_id (same keeper rule as t_exact_dedup).
# This is the APPLICATION stage of t_content_chunks: because boundaries
# are shift-invariant, a passage shared by two documents at different
# offsets lands here as one group. 100 TB shape: the chunker is a pure
# flatMap, then ONE narrow-key aggregation family on (chunk_hash,
# chunk_len) — the count-distinct doc_id is Spark's standard two-phase
# expand (partial aggregates ride map-side), nothing wide ever shuffles
# (the chunk text itself never leaves the map stage — only 60-bit
# hashes + lengths cross the wire).
# ---------------------------------------------------------------------------
_CHUNK_DEDUP_MIN_LEN = 16


@query(
    "t_chunk_dedup_stats",
    f"""
    WITH c AS ({_content_chunks_oracle()})
    SELECT chunk_hash, chunk_len,
           count(*) AS n_occ,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS keeper_doc,
           (count(*) - 1) * chunk_len AS droppable_chars
    FROM c
    WHERE chunk_len >= {_CHUNK_DEDUP_MIN_LEN}
    GROUP BY chunk_hash, chunk_len
    HAVING count(*) >= 2
    """,
)
def t_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t_content_chunks(spark, sf_dir)
    return (
        c.filter(F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN)
        .groupBy("chunk_hash", "chunk_len")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_occ") >= 2)
        .select(
            "chunk_hash",
            "chunk_len",
            "n_occ",
            "n_docs",
            "keeper_doc",
            ((F.col("n_occ") - 1) * F.col("chunk_len")).alias("droppable_chars"),
        )
    )




# ---------------------------------------------------------------------------
# sub-document dedup APPLY: per-document outcome of dropping every
# non-first occurrence of a duplicated chunk (chunk_len >= the same
# post-filter floor; keeper = globally first occurrence by (doc_id,
# chunk_idx) — a total, deterministic order). Completes the chunking
# triad: t_content_chunks detects boundaries, t_chunk_dedup_stats
# measures duplicated mass, this query applies the drop and reports per
# doc how many chunks/chars survive — the row a curation pipeline feeds
# to its mixture/packing stages. 100 TB shape: the flatMap chunker feeds
# ONE narrow-key window exchange on (chunk_hash, chunk_len) to rank
# occurrences (rows carry only ids, lengths and 60-bit hashes — never
# text), then the per-doc rollup exchanges on doc_id; both keys are
# narrow and skew-free (chunk hashes are uniform; docs are bounded).
# ---------------------------------------------------------------------------
@query(
    "t_chunk_dedup_apply",
    f"""
    WITH c AS ({_content_chunks_oracle()}),
    r AS (
      SELECT doc_id, chunk_idx, chunk_len,
             row_number() OVER (
               PARTITION BY chunk_hash, chunk_len
               ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM c
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE chunk_len >= {_CHUNK_DEDUP_MIN_LEN} AND rn > 1) AS n_dropped,
           CAST(sum(CASE WHEN chunk_len >= {_CHUNK_DEDUP_MIN_LEN} AND rn > 1 THEN 0 ELSE chunk_len END) AS BIGINT) AS kept_chars,
           CAST(sum(CASE WHEN chunk_len >= {_CHUNK_DEDUP_MIN_LEN} AND rn > 1 THEN chunk_len ELSE 0 END) AS BIGINT) AS dropped_chars
    FROM r
    GROUP BY doc_id
    """,
)
def t_chunk_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = t_content_chunks(spark, sf_dir).select(
        "doc_id", "chunk_idx", "chunk_len", "chunk_hash"
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_hash", "chunk_len").orderBy("doc_id", "chunk_idx")
    )
    dropped = (F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN) & (F.col("rn") > 1)
    return (
        c.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(dropped).alias("n_dropped"),
            F.sum(F.when(dropped, F.lit(0)).otherwise(F.col("chunk_len")))
            .cast("long")
            .alias("kept_chars"),
            F.sum(F.when(dropped, F.col("chunk_len")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dropped_chars"),
        )
    )


# ---------------------------------------------------------------------------
# sub-document dedup REWRITE: the shipped artifact. Where
# t_chunk_dedup_apply reports per-doc kept/dropped mass, this stage emits
# the actual deduplicated document TEXT — every non-first occurrence of a
# duplicated chunk removed, surviving chunks re-concatenated in order —
# i.e. the row a curation pipeline hands to packing. Keeper rule is
# identical to the apply stage: global first occurrence by (doc_id,
# chunk_idx) within each (chunk_hash, chunk_len) group.
#
# 100 TB shape — chunk text NEVER crosses the wire: occurrence ranking
# runs on narrow (doc_id, chunk_idx, chunk_len, hash) rows through the
# same single (chunk_hash, chunk_len) window exchange as the apply stage;
# the dropped chunk indices then fold to ONE small array per affected doc
# (groupBy doc_id, narrow), and that array joins back to the original
# document row, where the text already lives, for an in-row rebuild
# (recompute cuts — window-local, segment-bounded — filter kept indices,
# concat_ws over in-row substrings; linear, not quadratic, in doc
# length). The only stage that moves text is the doc⋈drops join itself —
# the same cost class as materializing the output — and AQE broadcasts
# the drops side whenever the affected-doc set is small.
# ---------------------------------------------------------------------------
def _chunk_rewrite_oracle(src: str = "documents") -> str:
    return f"""
    WITH c AS ({_content_chunks_oracle(src)}),
    r AS (
      SELECT doc_id, chunk_idx, chunk_start, chunk_len,
             NOT (chunk_len >= {_CHUNK_DEDUP_MIN_LEN}
                  AND row_number() OVER (
                        PARTITION BY chunk_hash, chunk_len
                        ORDER BY doc_id, chunk_idx
                      ) > 1) AS kept
      FROM c
    ),
    g AS (
      SELECT r.doc_id,
             CAST(count(*) FILTER (WHERE r.kept) AS BIGINT) AS n_kept,
             COALESCE(string_agg(
               CASE WHEN r.kept THEN substr(
                 d.text,
                 CAST(r.chunk_start AS INTEGER),
                 CAST(r.chunk_len AS INTEGER)) END,
               '' ORDER BY r.chunk_idx), '') AS rebuilt_text
      FROM r JOIN {src} d ON r.doc_id = d.doc_id
      GROUP BY r.doc_id
    )
    SELECT doc_id, n_kept,
           CAST(len(rebuilt_text) AS BIGINT) AS rebuilt_len,
           rebuilt_text
    FROM g
    """


def _chunk_rewrite(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → per-doc deduplicated text (the shipped artifact)."""
    from pyspark.sql import Window

    c = _chunk_rows(docs).select(
        "doc_id", "chunk_idx", "chunk_len", "chunk_hash"
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_hash", "chunk_len").orderBy("doc_id", "chunk_idx")
    )
    # lazy persist (the t_kcore_peel discipline): BOTH rebuild branches of
    # the length-hybrid join against drops, and exchange reuse does not
    # collapse the two copies across the Union (verified on the executed
    # plan) — without the pin the chunker + ranking window run twice. One
    # narrow row per affected doc; at scale this is the drop table a real
    # pipeline materializes. CACHE LIFETIME (ADVICE r9): the pin is never
    # explicitly unpersisted — the query builder returns before execution,
    # so an unpersist here would defeat the pin; reclamation relies on
    # session teardown (bench/tests) or an explicit catalog.clearCache()
    # in a long-lived session. Kept as persist (not localCheckpoint):
    # tail queries pin this function's analyzed-plan fingerprint.
    drops = (
        c.withColumn("rn", rn)
        .filter((F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN) & (F.col("rn") > 1))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("dropped_idx"))
    ).persist()
    return _rebuild_dropping(docs, drops)


def _rebuild_dropping(docs: DataFrame, drops: DataFrame) -> DataFrame:
    """Rebuild each document's text with the chunks in ``drops``
    (one ``dropped_idx`` array per affected doc) removed — the shared
    rebuild stage of every chunk-rewrite policy (cut-non-first,
    quality-keeper keep-one). Length-hybrid: Catalyst in-row below
    CDC_LONG_DOC, the Arrow kernel above (expressions identical to the
    pre-split _chunk_rewrite — plan-fingerprint-neutral refactor)."""
    from ..operators.text import (
        CDC_LONG_DOC,
        REWRITE_ROW_SCHEMA,
        rebuild_long_doc_batches,
    )

    base = (
        docs.select("doc_id", "text")
        .join(drops, "doc_id", "left")
        .withColumn(
            "dropped_idx",
            F.coalesce(F.col("dropped_idx"), F.array().cast("array<bigint>")),
        )
    )
    # the rebuild routes by length exactly like the chunker (_chunk_rows):
    # docs up to CDC_LONG_DOC rebuild in-row through Catalyst; longer docs
    # go through the Arrow kernel, whose Python slicing is linear in doc
    # length — the in-row per-chunk substr is a char-offset walk that turns
    # quadratic on multi-MB documents (round-6 ADVICE)
    long_part = (
        base.filter(F.length("text") > CDC_LONG_DOC)
        .mapInPandas(rebuild_long_doc_batches, REWRITE_ROW_SCHEMA)
    )
    d = (
        base.filter(F.length("text") <= CDC_LONG_DOC)
        .withColumn("cuts", content_cut_positions(F.col("text")))
        .withColumn(
            "starts",
            F.concat(F.array(F.lit(1)), F.transform("cuts", lambda col: col + 1)),
        )
        .withColumn("ends", F.concat(F.col("cuts"), F.array(F.length("text"))))
    )
    kept = F.filter(
        F.sequence(F.lit(0).cast("bigint"), (F.size("starts") - 1).cast("bigint")),
        lambda i: ~F.array_contains(F.col("dropped_idx"), i),
    )

    def chunk_text(i):
        s = F.element_at(F.col("starts"), (i + 1).cast("int")).cast("int")
        e = F.element_at(F.col("ends"), (i + 1).cast("int")).cast("int")
        return F.col("text").substr(s, e - s + 1)

    rebuilt = F.concat_ws("", F.transform(kept, chunk_text))
    short_part = d.select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept"),
        F.length(rebuilt).cast("long").alias("rebuilt_len"),
        rebuilt.alias("rebuilt_text"),
    )
    return short_part.unionByName(long_part)


@query("t_chunk_dedup_rewrite", _chunk_rewrite_oracle())
def t_chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunk_rewrite(
        spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# LONG-document twins of the chunking family: every document in the gate
# corpus is ≤ CDC_LONG_DOC, so the Arrow (mapInPandas) routes of the
# chunker and the rewrite would never execute under a value hash without
# them. The corpus is synthesized DETERMINISTICALLY inside the query (and
# identically in the oracle): one subset of documents is inflated past
# the 8 KiB threshold by whole-text repetition (repeat(text || ' ', k),
# k = ceil(9000/(len+1)) — both engines compute the same IEEE division
# and the same string), a disjoint subset stays as-is, so BOTH routes of
# the length-hybrid carry rows and the union itself is certified. The
# repetition also makes the long docs violently self-duplicated at chunk
# granularity — a worst-case stress for the dedup window.
# ---------------------------------------------------------------------------
_LONG_MOD = 29
_SHORT_MOD = 13
_LONG_TARGET = 9000


def _mixed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    longs = d.filter(F.col("doc_id") % _LONG_MOD == 0).select(
        "doc_id",
        F.expr(
            f"repeat(text || ' ', CAST(ceil(CAST({_LONG_TARGET} AS DOUBLE) "
            f"/ (length(text) + 1)) AS INT))"
        ).alias("text"),
    )
    shorts = d.filter(
        (F.col("doc_id") % _SHORT_MOD == 0) & (F.col("doc_id") % _LONG_MOD != 0)
    ).select("doc_id", "text")
    return longs.unionByName(shorts)


def _mixed_corpus_sql() -> str:
    return (
        f"(SELECT doc_id, repeat(text || ' ', CAST(ceil(CAST({_LONG_TARGET} AS DOUBLE) "
        f"/ (len(text) + 1)) AS INTEGER)) AS text "
        f"FROM documents WHERE doc_id % {_LONG_MOD} = 0 "
        f"UNION ALL SELECT doc_id, text FROM documents "
        f"WHERE doc_id % {_SHORT_MOD} = 0 AND doc_id % {_LONG_MOD} != 0)"
    )


@query("t_content_chunks_long", _content_chunks_oracle(_mixed_corpus_sql()))
def t_content_chunks_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunk_rows(_mixed_corpus(spark, sf_dir))


# ---------------------------------------------------------------------------
# quality-aware dedup keeper: real curation pipelines don't keep the
# MIN-id member of a near-dup pair — they keep the better document. This
# adjudicates every LSH near-dup pair by an integer-exact quality key
# (distinct-token count desc, then length desc, then doc_id asc — exact
# BIGINTs, so the ranking is deterministic cross-engine; the double-ratio
# quality scores would tie-break ambiguously). 100 TB shape: rides the
# banded LSH pair join unchanged, then two narrow doc_id joins against a
# 3-column quality table — broadcastable when the pair set is small,
# doc-keyed SMJ otherwise; nothing new is quadratic.
# ---------------------------------------------------------------------------
@query(
    "t_pair_quality_keeper",
    f"""
    WITH p AS ({ORACLES["t_minhash_lsh_pairs"]}),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct({TOKENS_SQL.format(c="text")})) AS BIGINT) AS nd,
             CAST(len(text) AS BIGINT) AS nc
      FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           CASE WHEN (a.nd > b.nd)
                  OR (a.nd = b.nd AND a.nc > b.nc)
                  OR (a.nd = b.nd AND a.nc = b.nc)
                THEN p.doc_a ELSE p.doc_b END AS keeper_doc,
           CASE WHEN (a.nd > b.nd)
                  OR (a.nd = b.nd AND a.nc > b.nc)
                  OR (a.nd = b.nd AND a.nc = b.nc)
                THEN p.doc_b ELSE p.doc_a END AS dropped_doc,
           CASE WHEN (a.nd > b.nd)
                  OR (a.nd = b.nd AND a.nc > b.nc)
                  OR (a.nd = b.nd AND a.nc = b.nc)
                THEN a.nd ELSE b.nd END AS keeper_distinct_tokens,
           CASE WHEN (a.nd > b.nd)
                  OR (a.nd = b.nd AND a.nc > b.nc)
                  OR (a.nd = b.nd AND a.nc = b.nc)
                THEN b.nd ELSE a.nd END AS dropped_distinct_tokens
    FROM p JOIN q a ON p.doc_a = a.doc_id
           JOIN q b ON p.doc_b = b.doc_id
    """,
)
def t_pair_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    q = read(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text")))).cast("long").alias("nd"),
        F.length("text").cast("long").alias("nc"),
    )
    a = q.select(
        F.col("doc_id").alias("doc_a"),
        F.col("nd").alias("nd_a"),
        F.col("nc").alias("nc_a"),
    )
    b = q.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nd").alias("nd_b"),
        F.col("nc").alias("nc_b"),
    )
    a_wins = (
        (F.col("nd_a") > F.col("nd_b"))
        | ((F.col("nd_a") == F.col("nd_b")) & (F.col("nc_a") > F.col("nc_b")))
        | ((F.col("nd_a") == F.col("nd_b")) & (F.col("nc_a") == F.col("nc_b")))
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.when(a_wins, F.col("doc_a")).otherwise(F.col("doc_b")).alias("keeper_doc"),
            F.when(a_wins, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dropped_doc"),
            F.when(a_wins, F.col("nd_a")).otherwise(F.col("nd_b")).alias("keeper_distinct_tokens"),
            F.when(a_wins, F.col("nd_b")).otherwise(F.col("nd_a")).alias("dropped_distinct_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# chunk-level CONTAINMENT detection (quotation / doc-in-doc inclusion):
# containment(A→B) = |eligible chunks of A also in B| / |eligible chunks
# of A| over DISTINCT (chunk_hash, chunk_len) sets — the asymmetric
# measure that catches one document quoting or embedding another, which
# symmetric Jaccard dilutes away when |B| ≫ |A|. Eligibility = the dedup
# floor (len ≥ 16) AND document frequency ≤ a cap: chunks shared by more
# than _CONTAIN_DF_CAP documents are boilerplate, and at corpus scale
# they are exactly the keys that would turn the chunk-hash self-join
# quadratic — the df cap is the blocking guarantee (same role as prefix
# filtering in the n-gram Jaccard join). 100 TB shape: one distinct over
# narrow chunk keys, one df aggregation, one equi-join on (chunk_hash,
# chunk_len) bounded by df ≤ cap (≤ cap² pairs per shared chunk), one
# (doc_a, doc_b) count — never all-pairs, text never shuffles.
# ---------------------------------------------------------------------------
_CONTAIN_DF_CAP = 64
_CONTAIN_THRESH = 0.5


@query(
    "t_chunk_containment",
    f"""
    WITH c AS ({_content_chunks_oracle()}),
    d AS (
      SELECT DISTINCT doc_id, chunk_hash, chunk_len FROM c
      WHERE chunk_len >= {_CHUNK_DEDUP_MIN_LEN}
    ),
    df AS (
      SELECT chunk_hash, chunk_len, count(*) AS n_docs
      FROM d GROUP BY chunk_hash, chunk_len
    ),
    e AS (
      SELECT d.doc_id, d.chunk_hash, d.chunk_len
      FROM d JOIN df USING (chunk_hash, chunk_len)
      WHERE df.n_docs <= {_CONTAIN_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_chunks FROM e GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM e a JOIN e b
        ON a.chunk_hash = b.chunk_hash AND a.chunk_len = b.chunk_len
       AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           z.n_chunks AS n_chunks_a,
           CAST(s.n_shared AS DOUBLE) / z.n_chunks AS containment
    FROM shared s JOIN sizes z ON s.doc_a = z.doc_id
    WHERE CAST(s.n_shared AS DOUBLE) / z.n_chunks >= {_CONTAIN_THRESH}
    """,
)
def t_chunk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t_content_chunks(spark, sf_dir)
    # lazy persist (the t_kcore_peel discipline): the distinct chunk-key
    # table feeds the df aggregation AND the eligible-key semi-join, and
    # the eligible table in turn feeds sizes + both containment join sides
    # — without the pins the flatMap chunker re-executes per reference
    # (measured 5.7 s warm at sf0.1 unpinned). Narrow keys only, never text.
    d = (
        c.filter(F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN)
        .select("doc_id", "chunk_hash", "chunk_len")
        .distinct()
    ).persist()
    df_tbl = (
        d.groupBy("chunk_hash", "chunk_len")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= _CONTAIN_DF_CAP)
        .select("chunk_hash", "chunk_len")
    )
    e = d.join(df_tbl, ["chunk_hash", "chunk_len"], "left_semi").persist()
    sizes = e.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    a = e.select(
        F.col("doc_id").alias("doc_a"), "chunk_hash", "chunk_len"
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"), "chunk_hash", "chunk_len"
    )
    shared = (
        a.join(b, ["chunk_hash", "chunk_len"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    containment = F.col("n_shared").cast("double") / F.col("n_chunks")
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.col("n_chunks").alias("n_chunks_a"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_THRESH)
    )


# ---------------------------------------------------------------------------
# ROBUST WINNOWING fingerprints (the MOSS scheme) + the pair application:
# a third fingerprint-selection law alongside MinHash and CDC chunking —
# per doc, the distinct minima of every w-window of positional k-gram
# hashes. Detection guarantee: a shared substring of length ≥ w + k − 1
# produces a shared fingerprint, so the pair join has a provable floor
# (MOSS plagiarism detection at corpus scale). 100 TB shape: fingerprint
# selection is a pure in-row flatMap; the pair stage explodes ~2/(w+1) of
# grams, df-caps viral fingerprints (the same blocking guarantee as the
# containment join), and counts shared prints per pair — never all-pairs.
# ---------------------------------------------------------------------------
_WINNOW_DF_CAP = 64
_WINNOW_OVERLAP = 0.5


@query(
    "t_winnow_fingerprints",
    f"""
    SELECT doc_id,
           CAST(len({winnow_fingerprints_sql("text")}) AS BIGINT) AS n_fp,
           CAST(list_sum({winnow_fingerprints_sql("text")}) AS BIGINT) AS fp_sum,
           CAST(list_min({winnow_fingerprints_sql("text")}) AS BIGINT) AS fp_min,
           CAST(list_max({winnow_fingerprints_sql("text")}) AS BIGINT) AS fp_max
    FROM documents
    """,
)
def t_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gram hashes bound to their own projection before windowing — the
    # w slice references then read an attribute, not a re-evaluated
    # expression (38 s → ~2 s at sf0.1; see winnow_from_grams)
    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", positional_gram_hashes(F.col("text")).alias("g"))
        .select("doc_id", winnow_from_grams(F.col("g")).alias("fps"))
    )
    return d.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.aggregate(
            "fps", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("fp_sum"),
        F.array_min("fps").cast("long").alias("fp_min"),
        F.array_max("fps").cast("long").alias("fp_max"),
    )


@query(
    "t_winnow_pairs",
    f"""
    WITH d AS (
      SELECT doc_id, unnest({winnow_fingerprints_sql("text")}) AS fp
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM d GROUP BY doc_id),
    df AS (
      SELECT fp, count(*) AS n_docs FROM d GROUP BY fp
    ),
    e AS (
      SELECT d.doc_id, d.fp FROM d JOIN df USING (fp)
      WHERE df.n_docs <= {_WINNOW_DF_CAP}
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           za.n_fp AS n_fp_a, zb.n_fp AS n_fp_b,
           CAST(s.n_shared AS DOUBLE) / LEAST(za.n_fp, zb.n_fp) AS overlap
    FROM shared s
    JOIN sizes za ON s.doc_a = za.doc_id
    JOIN sizes zb ON s.doc_b = zb.doc_id
    WHERE CAST(s.n_shared AS DOUBLE) / LEAST(za.n_fp, zb.n_fp) >= {_WINNOW_OVERLAP}
    """,
)
def t_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy persist (the t_kcore_peel discipline): the exploded fingerprint
    # table feeds sizes, the df cap and both join sides
    d = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", positional_gram_hashes(F.col("text")).alias("g"))
        .select("doc_id", F.explode(winnow_from_grams(F.col("g"))).alias("fp"))
    ).persist()
    sizes = d.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    df_tbl = (
        d.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= _WINNOW_DF_CAP)
        .select("fp")
    )
    e = d.join(df_tbl, "fp", "left_semi")
    a = e.select(F.col("doc_id").alias("doc_a"), "fp")
    b = e.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    overlap = F.col("n_shared").cast("double") / F.least("n_fp_a", "n_fp_b")
    return (
        shared.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            overlap.alias("overlap"),
        )
        .filter(F.col("overlap") >= _WINNOW_OVERLAP)
    )


@query("t_chunk_rewrite_long", _chunk_rewrite_oracle(_mixed_corpus_sql()))
def t_chunk_rewrite_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunk_rewrite(_mixed_corpus(spark, sf_dir))


# ---------------------------------------------------------------------------
# streaming chunk-dedup twin: dedup-on-ingest at CHUNK granularity — the
# sub-document analog of t_stream_lsh_pairs. Each micro-batch chunks its
# documents (the same zero-exchange flatMap), probes a persistent
# (chunk_hash, chunk_len) first-seen store, marks every occurrence that
# is not the global first as dropped, appends per-chunk outcomes, and
# appends the batch's newly-seen keys to the store. Batches are staged in
# ascending doc_id ranges (mtime-pinned), so first-ARRIVAL == the batch
# oracle's keeper rule (global first occurrence by (doc_id, chunk_idx)):
# after the stream drains, the accumulated outcome table folds to exactly
# t_chunk_dedup_apply, and the gate reuses that oracle verbatim. 100 TB
# shape: per batch the work is (batch chunk keys) ⋈ (store keys) on
# narrow 60-bit-hash keys — O(batch), never a corpus rescan; chunk text
# never leaves the batch's map stage; the store only appends and holds
# one row per distinct duplicated-eligible chunk.
# ---------------------------------------------------------------------------
def t_stream_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..streaming.pipeline import _hadoop_fs

    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-chunk-gate-")
    # three ascending doc_id ranges → arrival order == (doc_id, chunk_idx)
    # order, so on-ingest keeper == the batch oracle's global-first keeper
    b1, b2 = docs.selectExpr(
        "percentile(doc_id, 0.34) AS b1", "percentile(doc_id, 0.67) AS b2"
    ).first()
    stream = staged_stream(
        workdir,
        [
            docs.filter(F.col("doc_id") <= b1),
            docs.filter((F.col("doc_id") > b1) & (F.col("doc_id") <= b2)),
            docs.filter(F.col("doc_id") > b2),
        ],
    )

    store_dir = f"{workdir}/store"
    outcome_dir = f"{workdir}/outcomes"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        ch = _chunk_rows(batch_df).withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("chunk_hash", "chunk_len").orderBy(
                    "doc_id", "chunk_idx"
                )
            ),
        )
        # probe through the Hadoop FileSystem API (same discipline as the
        # sink's file:-scheme handling) — an os.path probe is always false
        # for non-local URIs, which would reset the store every batch on a
        # real cluster and mark nothing as a duplicate
        fs, store_path = _hadoop_fs(s, store_dir)
        if fs.exists(store_path):
            hits = s.read.parquet(store_dir).withColumn("_hit", F.lit(True))
        else:
            hits = s.createDataFrame(
                [], "chunk_hash bigint, chunk_len bigint, _hit boolean"
            )
        j = ch.join(hits, ["chunk_hash", "chunk_len"], "left")
        eligible = F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN
        dropped = eligible & (
            F.coalesce(F.col("_hit"), F.lit(False)) | (F.col("rn") > 1)
        )
        j.select(
            "doc_id", "chunk_idx", "chunk_len", dropped.alias("dropped")
        ).write.mode("append").parquet(outcome_dir)
        # newly-seen eligible keys enter the store (first in-batch occurrence
        # of a key the store has never held)
        (
            ch.filter(eligible & (F.col("rn") == 1))
            .join(hits, ["chunk_hash", "chunk_len"], "left_anti")
            .select("chunk_hash", "chunk_len")
            .write.mode("append")
            .parquet(store_dir)
        )

    drain(
        stream.writeStream.foreachBatch(merge),
        f"{workdir}/ckpt",
        "t_stream_chunk_dedup",
    )
    # fold outcomes first-writer-wins by (doc_id, chunk_idx): a replayed
    # batch re-evaluates its own first occurrences as store hits (their keys
    # were already appended), emitting a conflicting dropped=true row next
    # to the original dropped=false one — distinct() would keep both and
    # double-count the chunk, so take min(dropped) per chunk instead
    # (false < true: the original verdict wins)
    oc = (
        spark.read.parquet(outcome_dir)
        .groupBy("doc_id", "chunk_idx")
        .agg(
            F.first("chunk_len").alias("chunk_len"),
            F.min("dropped").alias("dropped"),
        )
    )
    d = F.col("dropped")
    return oc.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(d).alias("n_dropped"),
        F.sum(F.when(d, F.lit(0)).otherwise(F.col("chunk_len")))
        .cast("long")
        .alias("kept_chars"),
        F.sum(F.when(d, F.col("chunk_len")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dropped_chars"),
    )


QUERIES["t_stream_chunk_dedup"] = t_stream_chunk_dedup
ORACLES["t_stream_chunk_dedup"] = ORACLES["t_chunk_dedup_apply"]


# ---------------------------------------------------------------------------
# inverted index construction (postings with positions): one row per
# (term, doc) holding tf and the ascending position list — the structure
# BM25/df statistics read, and positions enable phrase/proximity search.
# 100 TB shape: ONE explode (token, position) then ONE partial-aggregable
# (term, doc_id) exchange; positions are bounded by document length and
# stay inside their row (csv string — the driver's value hash covers
# ordering). Term-sharded layout at scale = partitionBy(term) on write.
# ---------------------------------------------------------------------------
@query(
    "t_inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform({TOKENS_SQL.format(c="text")},
                    (x, i) -> struct_pack(tok := x, pos := i - 1))) AS t
      FROM documents
    )
    SELECT t.tok AS term, doc_id,
           count(*) AS tf,
           array_to_string(list(t.pos ORDER BY t.pos), ',') AS positions
    FROM toks
    GROUP BY t.tok, doc_id
    """,
)
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark)
    ex = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    return ex.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("pos")), lambda p: p.cast("string")
            ),
        ).alias("positions"),
    )


# ---------------------------------------------------------------------------
# collocation extraction (PMI-style lift): adjacent-bigram mining with
# lift(x,y) = p(xy) / (p(x)·p(y)) = (c_xy · N²) / (M · c_x · c_y) — the
# phrase-mining signal a tokenizer-vocabulary or boilerplate pipeline
# feeds on. All counts are exact integers; the score is ONE double
# expression over those integers with identical parenthesization in both
# engines (bit-identical IEEE), and the floor c_xy ≥ 5 plus the top-20
# deterministic tiebreak keep the output stable. 100 TB shape: bigrams
# ride the existing word_ngrams in-row arrays (no second corpus scan for
# unigrams — both explodes share the one scan), counts are two
# partial-aggregable groupBys, and the unigram table joins back by term
# (AQE broadcasts it while it fits; at web scale the join is the standard
# count-table equi-join, never quadratic).
# ---------------------------------------------------------------------------
_COLL_MIN = 5
_COLL_TOP = 20


@query(
    "t_collocations",
    f"""
    WITH toks AS (
      SELECT unnest({TOKENS_SQL.format(c="text")}) AS tok FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT unnest({word_ngrams_sql("text", 2)}) AS bg FROM documents
    ),
    bic AS (SELECT bg, COUNT(*) AS c_xy FROM bi GROUP BY bg HAVING COUNT(*) >= {_COLL_MIN}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bi),
    scored AS (
      SELECT string_split(bic.bg, ' ')[1] AS term_x,
             string_split(bic.bg, ' ')[2] AS term_y,
             bic.c_xy,
             (CAST(bic.c_xy AS DOUBLE) * (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE)))
               / ((CAST(m.m AS DOUBLE) * CAST(ux.c AS DOUBLE)) * CAST(uy.c AS DOUBLE))
               AS lift
      FROM bic
      JOIN uni ux ON ux.tok = string_split(bic.bg, ' ')[1]
      JOIN uni uy ON uy.tok = string_split(bic.bg, ' ')[2]
      CROSS JOIN n CROSS JOIN m
    )
    SELECT term_x, term_y, c_xy, lift
    FROM scored
    ORDER BY lift DESC, term_x, term_y LIMIT {_COLL_TOP}
    """,
)
def t_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = uni.agg(F.sum("c").cast("long").alias("n"))
    bi = d.select(F.explode(word_ngrams(F.col("text"), 2)).alias("bg"))
    bic = (
        bi.groupBy("bg")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= _COLL_MIN)
    )
    m = bi.agg(F.count("*").cast("long").alias("m"))
    parts = F.split(F.col("bg"), " ")
    sc = (
        bic.withColumn("term_x", parts.getItem(0))
        .withColumn("term_y", parts.getItem(1))
        .join(uni.select(F.col("tok").alias("term_x"), F.col("c").alias("cx")), "term_x")
        .join(uni.select(F.col("tok").alias("term_y"), F.col("c").alias("cy")), "term_y")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m))
    )
    lift = (
        F.col("c_xy").cast("double")
        * (F.col("n").cast("double") * F.col("n").cast("double"))
    ) / (
        (F.col("m").cast("double") * F.col("cx").cast("double"))
        * F.col("cy").cast("double")
    )
    return (
        sc.select("term_x", "term_y", "c_xy", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("term_x"), F.asc("term_y"))
        .limit(_COLL_TOP)
    )


# ---------------------------------------------------------------------------
# split-leakage audit: near-duplicate pairs straddling the train/val/test
# hash split — the eval-contamination a curation pipeline must measure
# BEFORE shipping splits (a test document whose near-dup sits in train
# leaks the answer). Composes two certified components verbatim: the LSH
# near-dup pair set and the stratified hash-split assignment; the output
# is the (split_a, split_b) pair matrix with a leaked flag, so the
# diagonal is safe mass and everything else is leakage to fix (re-split
# by dup-cluster representative — t_dup_clusters — instead of raw
# doc_id). 100 TB shape: the pair table rides the banded LSH join, and
# the split join ships only (doc_id, split) — two narrow probes.
# ---------------------------------------------------------------------------
def _split_leakage_oracle() -> str:
    from ..operators.split import split_case_sql

    return f"""
    WITH p AS ({ORACLES["t_minhash_lsh_pairs"]}),
    s AS (
      SELECT doc_id,
             {split_case_sql('doc_id', _SPLIT_FRACTIONS, 'source')} AS split
      FROM documents
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           count(*) AS n_pairs,
           least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaked
    FROM p JOIN s sa ON p.doc_a = sa.doc_id
           JOIN s sb ON p.doc_b = sb.doc_id
    GROUP BY 1, 2, 4
    """


@query("t_split_leakage", _split_leakage_oracle())
def t_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import assign_split

    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    s = assign_split(
        read(spark, sf_dir, "documents"),
        key="doc_id",
        fractions=_SPLIT_FRACTIONS,
        stratum="source",
    ).select("doc_id", "split")
    j = (
        pairs.join(s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("_sa")), "doc_a")
        .join(s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("_sb")), "doc_b")
    )
    a = F.least("_sa", "_sb")
    b = F.greatest("_sa", "_sb")
    return (
        j.select(a.alias("split_a"), b.alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("leaked", F.col("split_a") != F.col("split_b"))
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the SimHash near-dup graph. CC
# (t_dup_clusters) merges everything reachable — two dense duplicate
# clusters connected by one spurious band collision become one cluster;
# frequency-based LPA keeps them apart because a single bridge edge never
# outvotes a dense neighborhood. Synchronous update, min-label tie-break,
# fixed 3-round unroll: every stage is a keyed shuffle on the pair graph
# (never the corpus), the edge subtree is lazily persisted (the
# t_kcore_peel discipline — the unroll references it 4×), and the result
# is deterministic under any partitioning. Rounds are unrolled in BOTH
# engines, so the oracle certifies the exact per-round mode/tie law.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT u, lbl FROM (
        SELECT e.u, l.lbl,
               ROW_NUMBER() OVER (PARTITION BY e.u
                                  ORDER BY COUNT(*) DESC, l.lbl) AS rn
        FROM edges e JOIN {prev} l ON l.u = e.v
        GROUP BY e.u, l.lbl
      ) WHERE rn = 1
    )"""


@query(
    "t_label_prop",
    f"""
    WITH {_lp_pair_sql()},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT u, u AS lbl FROM edges),
    {",".join(_lpa_round_sql(f"l{r}", f"l{r + 1}") for r in range(_LPA_ROUNDS))}
    SELECT u AS doc_id, lbl AS community FROM l{_LPA_ROUNDS}
    """,
)
def t_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    _, edges = _simhash_band_edges(spark, sf_dir)
    edges = edges.persist()
    return label_propagation(edges, rounds=_LPA_ROUNDS).select(
        F.col("node").alias("doc_id"), "community"
    )


# ---------------------------------------------------------------------------
# RAKE keyword scores (Rose et al. 2010, "Automatic Keyword Extraction
# from Individual Documents"): candidate phrases are the maximal token
# runs between delimiters (stopwords or punctuation-only tokens); each
# occurrence of a word in a phrase contributes 1 to its frequency and the
# phrase length to its degree; score = degree/freq favors words that
# appear inside long multi-word phrases. Both components stay exact
# BIGINTs corpus-wide; the only float step is the final division of
# identical operands. Shape: explode → per-doc running-sum window (the
# gaps-and-islands phrase id) → two keyed aggregations → global top-k via
# TakeOrderedAndProject — every shuffle is keyed, nothing is quadratic,
# and the phrase table never carries text (only ids and lengths).
# ---------------------------------------------------------------------------
_RAKE_TOP = 20
_RAKE_STOPS = STOPWORDS["en"]


@query(
    "t_rake_keywords",
    f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL.format(c="lower(text)")} AS toks
      FROM documents
    ),
    ex AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, toks
      FROM d WHERE len(toks) > 0
    ),
    tok AS (
      SELECT doc_id, pos,
             regexp_replace(toks[CAST(pos AS INTEGER) + 1],
                            '[^a-z0-9]', '', 'g') AS w
      FROM ex
    ),
    marked AS (
      SELECT doc_id, pos, w,
             CASE WHEN w = '' OR w IN ({", ".join(f"'{s}'" for s in _RAKE_STOPS)})
                  THEN 1 ELSE 0 END AS is_break
      FROM tok
    ),
    ph AS (
      SELECT doc_id, w, is_break,
             SUM(is_break) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM marked
    ),
    members AS (
      SELECT doc_id, phrase_id, w FROM ph WHERE is_break = 0
    ),
    plen AS (
      SELECT doc_id, phrase_id, COUNT(*) AS phlen
      FROM members GROUP BY doc_id, phrase_id
    ),
    wd AS (
      SELECT m.w AS word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.phlen) AS BIGINT) AS degree
      FROM members m
      JOIN plen p ON p.doc_id = m.doc_id AND p.phrase_id = m.phrase_id
      GROUP BY m.w
    )
    SELECT word, freq, degree,
           CAST(degree AS DOUBLE) / freq AS rake_score
    FROM wd
    ORDER BY rake_score DESC, degree DESC, word
    LIMIT {_RAKE_TOP}
    """,
)
def t_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    tok = d.filter(F.size("toks") > 0).select(
        "doc_id",
        F.posexplode("toks").alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.regexp_replace("raw", "[^a-z0-9]", "").alias("w"),
    )
    marked = tok.withColumn(
        "is_break",
        F.when(
            (F.col("w") == "") | F.col("w").isin(list(_RAKE_STOPS)), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    members = (
        marked.withColumn("phrase_id", F.sum("is_break").over(run))
        .filter(F.col("is_break") == 0)
        .select("doc_id", "phrase_id", "w")
    )
    plen = members.groupBy("doc_id", "phrase_id").agg(
        F.count("*").alias("phlen")
    )
    wd = (
        members.join(plen, ["doc_id", "phrase_id"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("phlen").cast("long").alias("degree"),
        )
    )
    return (
        wd.select(
            "word",
            "freq",
            "degree",
            (F.col("degree").cast("double") / F.col("freq")).alias(
                "rake_score"
            ),
        )
        .orderBy(F.desc("rake_score"), F.desc("degree"), "word")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# STREAMING winnowing twin (plagiarism-detection-on-ingest): each
# micro-batch fingerprints its documents (the same MOSS selection law as
# t_winnow_fingerprints), appends (doc_id, fp) to a fingerprint store,
# probes the store for shared-fingerprint CONTRIBUTIONS touching the
# batch — O(batch × collision density) on the narrow fp key, never a
# corpus rescan — and appends them. The df cap is applied TWICE: once at
# probe time (fingerprints already over the cap in the store are
# anti-joined out of the batch probe — a fingerprint's document frequency
# only grows, so anything over the cap now is over it at the end; this
# bounds a viral/boilerplate fingerprint's accumulated contributions at
# O(cap^2) instead of O(df^2), the round-7 ADVICE skew finding) and again
# as the CORPUS-GLOBAL adjudication at the final read (a fingerprint that
# crossed the cap AFTER some of its contributions formed is excluded
# late). The overlap threshold is global too, so it applies at the final
# read over the accumulated store: eligible-fp semi-join → per-pair count
# → size join → threshold, all on the bounded contribution/store tables.
# The probe-time count is countDistinct(doc_id) so at-least-once replay
# (duplicate store rows) cannot push an eligible fingerprint over the
# cap spuriously and silently skip forming its pairs. After the stream drains
# the result must hash-match the one-shot batch oracle
# (t_winnow_pairs' SQL, reused verbatim). A contribution (a, b, fp)
# forms exactly once — in the batch where the LATER document arrives
# (same-batch pairs form because the batch appends to the store before
# probing); distinct() guards the value hash against at-least-once
# replay of a batch, which re-derives byte-identical rows.
# ---------------------------------------------------------------------------
def t_stream_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-winnow-gate-")
    third = (
        md5_long(F.concat(F.lit("winnowsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(workdir, [docs.filter(third == i) for i in range(3)])

    fp_dir = f"{workdir}/fps"
    contrib_dir = f"{workdir}/contribs"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        batch_fps = batch_df.select(
            "doc_id", positional_gram_hashes(F.col("text")).alias("g")
        ).select("doc_id", F.explode(winnow_from_grams(F.col("g"))).alias("fp"))
        # append FIRST so within-batch pairs form in this batch's probe
        batch_fps.write.mode("append").parquet(fp_dir)
        store = s.read.parquet(fp_dir)
        # probe-time df cap: a fingerprint already over the cap can never
        # survive the final adjudication (df only grows), so skip forming
        # its contributions — bounds skew at O(cap^2) rows per fp. The
        # count is over DISTINCT doc_ids so replayed (duplicate) store
        # rows can't spuriously disqualify an eligible fingerprint.
        overcap = (
            store.groupBy("fp")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") > _WINNOW_DF_CAP)
            .select("fp")
        )
        (
            batch_fps.join(overcap, "fp", "left_anti")
            .alias("a")
            .join(
                store.alias("b"),
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                F.col("a.fp").alias("fp"),
            )
            .distinct()
            .write.mode("append")
            .parquet(contrib_dir)
        )

    drain(
        stream.writeStream.foreachBatch(merge),
        f"{workdir}/ckpt",
        "t_stream_winnow_pairs",
    )

    # final adjudication over the accumulated narrow stores (no text, no
    # re-fingerprinting): global df cap, shared counts, overlap threshold.
    # distinct() on BOTH stores makes the adjudication replay-safe: an
    # at-least-once re-run of a batch re-appends byte-identical rows,
    # which would otherwise inflate per-doc sizes and fingerprint df
    # (each doc's winnow list is distinct by construction, so distinct is
    # semantics-preserving on the clean path)
    store = spark.read.parquet(fp_dir).distinct()
    contribs = spark.read.parquet(contrib_dir).distinct()
    sizes = store.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    eligible = (
        store.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= _WINNOW_DF_CAP)
        .select("fp")
    )
    shared = (
        contribs.join(eligible, "fp", "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    overlap = F.col("n_shared").cast("double") / F.least("n_fp_a", "n_fp_b")
    return (
        shared.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b",
            overlap.alias("overlap"),
        )
        .filter(F.col("overlap") >= _WINNOW_OVERLAP)
    )


QUERIES["t_stream_winnow_pairs"] = t_stream_winnow_pairs
ORACLES["t_stream_winnow_pairs"] = ORACLES["t_winnow_pairs"]


# ---------------------------------------------------------------------------
# EXACT-SUBSTRING duplication spans (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"): every fixed-length token
# window that occurs >= 2 times ANYWHERE in the corpus (cross-document or
# within-document) marks its positions as duplicated; overlapping or
# touching duplicated windows merge into MAXIMAL spans per document — the
# artifact ExactSubstr dedup cuts out of training text. The paper builds a
# corpus suffix array; the Spark-first equivalent is a positional
# gram-hash posting list: one explode to (gram_hash, doc_id, pos), one
# hash exchange to count occurrences per gram (a WINDOW count, not
# groupBy+join-back — the position table crosses the wire once), one
# doc_id exchange for the gaps-and-islands merge. 100 TB: rows after the
# explode = corpus token count — the same O(total_tokens) the suffix
# array costs, but embarrassingly partitionable; a boilerplate gram that
# floods one reducer is the skew case AQE's skew-split handles (the key
# space is md5-uniform otherwise). W=8 tokens here; the paper's 50-token
# threshold is one constant away.
# ---------------------------------------------------------------------------
_SUBSTR_W = 8


def _exact_substr_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    w = _SUBSTR_W
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    p AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - {w - 1}, 0) + 1)) AS pos
      FROM t
    ),
    h AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             {md5_long_sql(f"array_to_string(toks[pos : pos + {w - 1}], ' ')")} AS gh
      FROM p
    ),
    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS c FROM h
      ) WHERE c >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {w} THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + {w - 1} AS span_end,
           MAX(pos) + {w} - MIN(pos) AS span_tokens
    FROM grp GROUP BY doc_id, island
    """


@query("t_exact_substr_spans", _exact_substr_oracle())
def t_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import exact_substr_spans

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    return exact_substr_spans(docs, w=_SUBSTR_W)


def _exact_substr_rewrite_oracle() -> str:
    """Chains the span CTEs with the SQL token-filter law: token i (1-based)
    survives iff no duplicated span covers it; survivors re-join with ' '."""
    toks = TOKENS_SQL.format(c="text")
    w = _SUBSTR_W
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    p AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - {w - 1}, 0) + 1)) AS pos
      FROM t
    ),
    h AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             {md5_long_sql(f"array_to_string(toks[pos : pos + {w - 1}], ' ')")} AS gh
      FROM p
    ),
    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS c FROM h
      ) WHERE c >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {w} THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id,
             MIN(pos) AS s,
             MAX(pos) + {w - 1} AS e
      FROM grp GROUP BY doc_id, island
    ),
    sp AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
      FROM spans GROUP BY doc_id
    ),
    kept AS (
      SELECT t.doc_id, t.toks,
             list_filter(range(1, len(t.toks) + 1),
                         i -> len(list_filter(
                                COALESCE(sp.spans,
                                  CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
                                x -> x.s <= i AND i <= x.e)) = 0) AS keep_idx
      FROM t LEFT JOIN sp ON sp.doc_id = t.doc_id
    )
    SELECT doc_id,
           -- DuckDB's array_to_string returns NULL (not '') on an empty
           -- list; a fully-cut document must rebuild to the empty string,
           -- matching Spark's concat_ws
           COALESCE(
             array_to_string(list_transform(keep_idx, i -> toks[i]), ' '),
             '') AS rebuilt_text,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(keep_idx) AS BIGINT) AS kept_tokens
    FROM kept
    """


def _exact_substr_keepone_oracle() -> str:
    """Same chained span→rebuild law, but the hit set keeps the canonical
    first occurrence (row_number over (doc_id, pos) per window ≥ 2 marks
    exactly the non-canonical copies — rn reaching 2 also implies the
    window is duplicated)."""
    base = _exact_substr_rewrite_oracle()
    return base.replace(
        """    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS c FROM h
      ) WHERE c >= 2
    ),""",
        """    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, row_number() OVER (
          PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM h
      ) WHERE rn >= 2
    ),""",
    )


assert "row_number" in _exact_substr_keepone_oracle()  # replace() must hit


@query("t_exact_substr_keepone", _exact_substr_keepone_oracle())
def t_exact_substr_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-FIRST ExactSubstr rewrite (Lee et al. 2021's dedup policy):
    every duplicated passage survives exactly once — the canonical
    (min doc_id, pos) occurrence — instead of the cut-all variant's
    total erasure. Same plan shape: the gh exchange serves a row_number
    window instead of a count window."""
    from ..operators.text import exact_substr_keepone_rewrite

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    return exact_substr_keepone_rewrite(docs, w=_SUBSTR_W)


@query("t_exact_substr_rewrite", _exact_substr_rewrite_oracle())
def t_exact_substr_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr dedup ARTIFACT (Lee et al. 2021, cut-all): every
    duplicated span detected by t_exact_substr_spans is removed from the
    text and the survivors re-joined. The span table is narrow (bounded by
    duplicated-region count) and joins back onto the corpus grouped per
    doc; the rebuild is an in-row token filter — document text never
    shuffles (the join moves (doc_id, s, e) triples only)."""
    from ..operators.text import exact_substr_rewrite

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    return exact_substr_rewrite(docs, w=_SUBSTR_W)


# ---------------------------------------------------------------------------
# Unigram surprisal (LM-quality proxy, integer-exact): score every
# document by the sum over its tokens of floor(log2(N / c(token))) where
# N is the corpus token count and c the token's corpus frequency — rare
# tokens contribute high surprisal, boilerplate near zero. The classic
# perplexity filter (CCNet/Gopher data pipelines) uses a trained LM; the
# cross-engine-certifiable core is the same shape with the corpus itself
# as the unigram model, and the log kept in the INTEGER domain:
# floor(log2(x)) = length(bin(x)) - 1, bit-identical in Spark and DuckDB
# (no libm in the value path). Plan: explode tokens -> groupBy(token) for
# the vocab counts (bounded by vocab size, partial-agg map-side) ->
# re-explode and shuffle-join counts on token (AQE broadcasts the vocab
# when it is small; at 100 TB it stays a shuffle join on a md5-uniform
# key) -> groupBy(doc_id). The corpus total N rides a broadcast one-row
# crossJoin.
# ---------------------------------------------------------------------------
def _surprisal_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    total AS (SELECT count(*) AS n FROM tok)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(SUM(length(bin(CAST(total.n // v.c AS BIGINT))) - 1) AS BIGINT)
             AS surprisal_sum,
           CAST(SUM(length(bin(CAST(total.n // v.c AS BIGINT))) - 1) * 1000
                  // count(*) AS BIGINT) AS surprisal_per_1k
    FROM tok t JOIN vocab v ON t.tok = v.tok CROSS JOIN total
    GROUP BY t.doc_id
    """


@query("t_unigram_surprisal", _surprisal_oracle())
def t_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = tok.agg(F.count("*").alias("n"))
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            # integer division (`div`), NOT float `/`: floor(log2(n//c))
            # must be computed on the exact BIGINT quotient in both engines
            (
                F.length(F.bin(F.expr("n div c"))) - 1
            ).cast("long").alias("surp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("surp").cast("long").alias("surprisal_sum"),
        F.expr("(sum(surp) * 1000) div count(*)")
        .cast("long")
        .alias("surprisal_per_1k"),
    )


# ---------------------------------------------------------------------------
# Bigram surprisal with unigram backoff — the second-order LM upgrade of
# t_unigram_surprisal, still integer-exact (floor_log2 via length(bin(x))-1,
# no libm in the value path). Per-token law (operators/text.py:
# bigram_surprisal): first token floor_log2(N // c(w)); seen bigram
# floor_log2(c(prev) // c(prev,w)); unseen bigram a fixed backoff penalty
# + the unigram term. Self-scored on the corpus here, so every bigram is
# by construction seen except across the synthetic first-token boundary —
# the backoff branch is pinned by unit tests against a Python reference
# (tests/test_corpus_ops.py) with a disjoint reference corpus. Plan: one
# bigram explode + three count joins on md5-uniform keys (AQE broadcasts
# the count tables when small; at 100 TB they stay vocabulary-bounded
# shuffle joins with map-side partial aggregation); the corpus total rides
# a broadcast one-row crossJoin.
# ---------------------------------------------------------------------------
def _bigram_surprisal_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    from ..operators.text import _BACKOFF_PENALTY

    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
    total AS (SELECT count(*) AS n FROM tok),
    bidx AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i
      FROM t
    ),
    big AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM bidx),
    bcnt AS (SELECT prev, cur, count(*) AS cbg FROM big GROUP BY 1, 2),
    firsts AS (
      SELECT doc_id, toks[1] AS cur FROM t WHERE toks[1] IS NOT NULL
    ),
    scored AS (
      SELECT f.doc_id,
             length(bin(CAST(total.n
               // greatest(coalesce(u.cw, 0), 1) AS BIGINT))) - 1 AS s
      FROM firsts f LEFT JOIN uni u ON u.w = f.cur CROSS JOIN total
      UNION ALL
      SELECT b.doc_id,
             CASE WHEN bc.cbg IS NOT NULL
                  THEN length(bin(CAST(up.cw // bc.cbg AS BIGINT))) - 1
                  ELSE {_BACKOFF_PENALTY}
                       + length(bin(CAST(total.n
                           // greatest(coalesce(uc.cw, 0), 1) AS BIGINT))) - 1
             END AS s
      FROM big b
      LEFT JOIN bcnt bc ON bc.prev = b.prev AND bc.cur = b.cur
      LEFT JOIN uni up ON up.w = b.prev
      LEFT JOIN uni uc ON uc.w = b.cur
      CROSS JOIN total
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS BIGINT) AS surprisal_sum,
           CAST(SUM(s) * 1000 // count(*) AS BIGINT) AS surprisal_per_1k
    FROM scored GROUP BY doc_id
    """


@query("t_bigram_surprisal", _bigram_surprisal_oracle())
def t_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_surprisal

    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    return bigram_surprisal(docs)

# ---------------------------------------------------------------------------
# ZIPF FIT (corpus-health audit): the rank-frequency log-log slope over the
# top-V vocabulary — a healthy natural-language corpus sits near -1;
# boilerplate floods or synthetic-token contamination bend it. Both logs
# stay in the INTEGER domain (floor_log2 via length(bin(x))-1) and the OLS
# slope/intercept keep the exact rational form of the statistics family
# (slope_num/slope_den as BIGINTs, one final division). The vocabulary is
# capped at the top 4096 tokens by (freq DESC, token) — the Zipf head;
# orderBy().limit() compiles to TakeOrderedAndProject, so the global rank
# window only ever sees the 4096-row head, never the full vocabulary
# (the 100 TB guard: vocab aggregation is map-side combined on md5-uniform
# token keys; nothing else is corpus-wide).
# ---------------------------------------------------------------------------
_ZIPF_TOPV = 4096


def _zipf_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH tok AS (SELECT unnest({toks}) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
    head AS (SELECT tok, freq FROM vocab ORDER BY freq DESC, tok
             LIMIT {_ZIPF_TOPV}),
    xy AS (
      SELECT length(bin(CAST(row_number() OVER (ORDER BY freq DESC, tok)
                             AS BIGINT))) - 1 AS x,
             length(bin(CAST(freq AS BIGINT))) - 1 AS y
      FROM head
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT n AS n_tokens,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS zipf_slope,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE (CAST(sy AS DOUBLE)
                      - CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
           END AS intercept
    FROM mo
    """


@query("t_zipf_fit", _zipf_oracle())
def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(read(spark, sf_dir, "documents"), spark)
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    head = vocab.orderBy(F.desc("freq"), "tok").limit(_ZIPF_TOPV)
    rk = F.row_number().over(Window.orderBy(F.desc("freq"), "tok"))

    def flog2(c):
        return (F.length(F.bin(c)) - 1).cast("long")

    xy = head.select(
        flog2(rk.cast("long")).alias("x"), flog2(F.col("freq")).alias("y")
    )
    mo = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return mo.select(
        F.col("n").alias("n_tokens"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(den == 0, F.lit(None).cast("double")).otherwise(slope)
        .alias("zipf_slope"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        )
        .alias("intercept"),
    )

# ---------------------------------------------------------------------------
# N-GRAM NOVELTY (curation-order audit): per document, the fraction of its
# token 3-grams whose FIRST corpus occurrence (min doc_id) is this
# document — the "how much new text does each document contribute"
# signal a dedup-ordered ingestion pipeline reports (documents late in
# the order that introduce almost nothing are boilerplate candidates;
# the per-position law counts within-doc repeats of a first-seen gram as
# novel, deterministic in both engines). Shape: the same positional
# gram-hash postings as ExactSubstr (hashes explode, strings never
# shuffle), ONE gh exchange for the min-doc window, one doc_id
# aggregation. Ratio kept integer (per-mille floor division).
# ---------------------------------------------------------------------------
_NOVELTY_W = 3


def _novelty_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    w = _NOVELTY_W
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    p AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - {w - 1}, 0) + 1)) AS pos
      FROM t
    ),
    h AS (
      SELECT doc_id,
             {md5_long_sql(f"array_to_string(toks[pos : pos + {w - 1}], ' ')")} AS gh
      FROM p
    ),
    f AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY gh) AS first_doc FROM h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000
                  // count(*) AS BIGINT) AS novelty_per_1k
    FROM f GROUP BY doc_id
    """


@query("t_ngram_novelty", _novelty_oracle())
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.text import _substr_postings

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    grams = _substr_postings(docs, _NOVELTY_W)
    f = grams.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("gh"))
    )
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return f.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(novel).alias("novel_grams"),
        F.expr(
            "(sum(CAST(first_doc = doc_id AS BIGINT)) * 1000) div count(*)"
        ).alias("novelty_per_1k"),
    )

# ---------------------------------------------------------------------------
# CHARACTER ENTROPY PROXY (quality signal): per document, the Shannon
# entropy of its character distribution kept ENTIRELY in the integer
# domain — entropy_proxy = Σ_ch c_ch · (floor_log2(n) − floor_log2(c_ch)),
# the floor-log analogue of n·H = Σ c·log2(n/c). Repetitive/low-diversity
# text (the classic garbage signal: one character flooding a crawl shard)
# scores near zero per char; diverse text scores high. Positions explode
# via an in-row transform over the char index (both engines substring the
# SAME way), then two bounded aggregations: (doc, char) → doc. 100 TB:
# the char explode is O(corpus bytes) rows of (int64, 1-char) — the same
# volume every shingle pass reads — with map-side combine collapsing each
# doc's alphabet immediately.
# ---------------------------------------------------------------------------
def _char_entropy_oracle() -> str:
    return """
    WITH ch AS (
      SELECT doc_id, ch FROM (
        SELECT doc_id,
               CASE WHEN length(text) > 0
                    THEN list_transform(range(1, length(text) + 1),
                                        i -> substring(text, i, 1))
                    ELSE CAST([] AS VARCHAR[]) END AS chars
        FROM documents
      ), unnest(chars) AS u(ch)
    ),
    per AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch
    ),
    per2 AS (
      SELECT doc_id, c,
             CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      FROM per
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST(SUM(c * ((length(bin(n)) - 1) - (length(bin(c)) - 1)))
             AS BIGINT) AS entropy_proxy,
           CAST(SUM(c * ((length(bin(n)) - 1) - (length(bin(c)) - 1))) * 1000
                  // MAX(n) AS BIGINT) AS entropy_per_char_milli
    FROM per2 GROUP BY doc_id
    """


@query("t_char_entropy", _char_entropy_oracle())
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    chars = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.length("text") > 0,
                F.transform(
                    F.sequence(F.lit(1), F.length("text")),
                    lambda i: F.col("text").substr(i, F.lit(1)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ch"),
    )
    per = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))

    def flog2(c):
        return (F.length(F.bin(c)) - 1).cast("long")

    w_doc = Window.partitionBy("doc_id")
    n_doc = F.sum("c").over(w_doc)
    scored = per.withColumn("surp", F.col("c") * (flog2(n_doc) - flog2(F.col("c"))))
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").alias("distinct_chars"),
        F.sum("surp").cast("long").alias("entropy_proxy"),
        F.expr("(sum(surp) * 1000) div sum(c)").cast("long").alias(
            "entropy_per_char_milli"
        ),
    )

# ---------------------------------------------------------------------------
# HEAPS'-LAW VOCABULARY GROWTH (the companion corpus-health audit to
# t_zipf_fit): distinct vocabulary size at ten corpus-prefix checkpoints
# (docs ordered by doc_id; boundary d_i = i*max_doc/10) — a healthy
# natural corpus grows ~ N^beta, beta≈0.5; a flattening curve means the
# tail is duplicated/boilerplate, a linear curve means synthetic noise.
# Shape: ONE token exchange computes each token's first-occurrence doc
# (min window — the same first-seen law as t_ngram_novelty, at token
# granularity), then the cumulative count at each checkpoint is a fan-out
# against the BROADCAST 10-row boundary table. Token totals per prefix
# ride the same fan-out from the bounded (doc, n_tokens) table.
# ---------------------------------------------------------------------------
def _vocab_growth_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH tok AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
    firsts AS (SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc
               FROM tok GROUP BY tok),
    mx AS (SELECT MAX(doc_id) AS max_doc FROM documents),
    bounds AS (
      SELECT i AS decile, CAST(mx.max_doc * i // 10 AS BIGINT) AS bound
      FROM (SELECT unnest(generate_series(1, 10)) AS i), mx
    ),
    vocab AS (
      SELECT b.decile, b.bound, CAST(count(*) AS BIGINT) AS vocab_size
      FROM bounds b JOIN firsts f ON f.first_doc <= b.bound
      GROUP BY b.decile, b.bound
    ),
    dt AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n FROM documents),
    toks_at AS (
      SELECT b.decile, CAST(SUM(d.n) AS BIGINT) AS n_tokens
      FROM bounds b JOIN dt d ON d.doc_id <= b.bound
      GROUP BY b.decile
    )
    SELECT v.decile, v.bound, t.n_tokens, v.vocab_size,
           CAST(v.vocab_size * 1000 // t.n_tokens AS BIGINT)
             AS vocab_per_1k_tokens
    FROM vocab v JOIN toks_at t USING (decile)
    """


@query("t_vocab_growth", _vocab_growth_oracle())
def t_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    firsts = tok.groupBy("tok").agg(F.min("doc_id").cast("long").alias("first_doc"))
    mx = docs.agg(F.max("doc_id").alias("max_doc"))
    bounds = (
        spark.range(1, 11)
        .select(F.col("id").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select(
            "decile",
            F.expr("(max_doc * decile) div 10").cast("long").alias("bound"),
        )
    )
    vocab = (
        firsts.crossJoin(F.broadcast(bounds))
        .filter(F.col("first_doc") <= F.col("bound"))
        .groupBy("decile", "bound")
        .agg(F.count("*").alias("vocab_size"))
    )
    dt = docs.select("doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n"))
    toks_at = (
        dt.crossJoin(F.broadcast(bounds))
        .filter(F.col("doc_id") <= F.col("bound"))
        .groupBy("decile")
        .agg(F.sum("n").alias("n_tokens"))
    )
    return vocab.join(toks_at, "decile").select(
        "decile",
        "bound",
        "n_tokens",
        "vocab_size",
        F.expr("(vocab_size * 1000) div n_tokens").cast("long").alias(
            "vocab_per_1k_tokens"
        ),
    )

# ---------------------------------------------------------------------------
# DISTINCTIVE VOCABULARY PER SOURCE (domain-signature audit): for every
# source, the tokens most over-represented vs the whole corpus — exact
# integer lift comparison (tf_s·N_total vs tf_total·N_s, cross-multiplied;
# per-mille lift by floor division), min support 5, top 10 per source by
# (lift DESC, token). The signal a mixture-planning pipeline reads to
# verify each domain actually contributes distinct text. Shape: one token
# explode → (source, token) census (map-side combined) → token-total and
# source-total joins on bounded keys → per-source rank window over the
# support-filtered set.
# ---------------------------------------------------------------------------
_DISTINCT_MIN_TF = 5
_DISTINCT_TOP = 10


def _distinctive_oracle() -> str:
    toks = TOKENS_SQL.format(c="text")
    return f"""
    WITH tok AS (
      SELECT source, unnest({toks}) AS tok FROM documents
    ),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tf_s
           FROM tok GROUP BY 1, 2),
    tt AS (SELECT tok, CAST(SUM(tf_s) AS BIGINT) AS tf_total FROM st GROUP BY tok),
    ns AS (SELECT source, CAST(SUM(tf_s) AS BIGINT) AS n_s FROM st GROUP BY source),
    nt AS (SELECT CAST(SUM(tf_s) AS BIGINT) AS n_total FROM st),
    scored AS (
      SELECT s.source, s.tok, s.tf_s,
             CAST(s.tf_s * nt.n_total * 1000 // (t.tf_total * n.n_s) AS BIGINT)
               AS lift_per_1k
      FROM st s JOIN tt t USING (tok) JOIN ns n USING (source) CROSS JOIN nt
      WHERE s.tf_s >= {_DISTINCT_MIN_TF}
    )
    SELECT source, tok, tf_s, lift_per_1k, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY lift_per_1k DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= {_DISTINCT_TOP}
    """


@query("t_source_distinctive_terms", _distinctive_oracle())
def t_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(read(spark, sf_dir, "documents"), spark).select("source", "text")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    st = tok.groupBy("source", "tok").agg(F.count("*").alias("tf_s"))
    tt = st.groupBy("tok").agg(F.sum("tf_s").alias("tf_total"))
    ns = st.groupBy("source").agg(F.sum("tf_s").alias("n_s"))
    nt = st.agg(F.sum("tf_s").alias("n_total"))
    scored = (
        st.filter(F.col("tf_s") >= _DISTINCT_MIN_TF)
        .join(tt, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "tok",
            "tf_s",
            F.expr("(tf_s * n_total * 1000) div (tf_total * n_s)")
            .cast("long")
            .alias("lift_per_1k"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift_per_1k"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _DISTINCT_TOP)
        .select("source", "tok", "tf_s", "lift_per_1k", "rk")
    )


# ---------------------------------------------------------------------------
# SIMHASH HAMMING HISTOGRAM (dedup-threshold calibration): the distribution
# of Hamming distances over ALL pigeonhole-banded candidate pairs — the
# evidence behind t_simhash_pairs' ≤6 cutoff (a healthy corpus shows a
# near-dup mode, a valley, and the random-pair mode near 30 of 60 bits;
# the cutoff belongs in the valley). Same banded candidate join as the
# pair query, with the threshold REMOVED and a 61-bin census instead of
# pair output — calibration never materializes beyond the bins.
# ---------------------------------------------------------------------------
@query(
    "t_simhash_hamming_hist",
    f"""
    WITH sh AS (
      SELECT doc_id, {simhash_sql("text")} AS h FROM documents
    ),
    chunks AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, h, {c} AS chunk_idx, (h >> {c * _CHUNK_BITS}) & {(1 << _CHUNK_BITS) - 1} AS ckey FROM sh"
        for c in range(_N_CHUNKS)
      )}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.h, b.h)) AS hamming
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.ckey = b.ckey
       AND a.doc_id < b.doc_id
    )
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY hamming
    """,
)
def t_simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = simhash_docs(spread(read(spark, sf_dir, "documents"), spark))
    mask = (1 << _CHUNK_BITS) - 1
    chunks = d.select(
        "doc_id",
        "h",
        F.posexplode(
            F.array(*[
                F.shiftright("h", c * _CHUNK_BITS).bitwiseAND(F.lit(mask))
                for c in range(_N_CHUNKS)
            ])
        ).alias("chunk_idx", "ckey"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming60(F.col("a.h"), F.col("b.h")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.groupBy("hamming").agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# DBSCAN-style density clustering over the near-dup graph (round 9): the
# LSH pair graph is the eps-neighborhood relation (candidate generation
# stays banded — no quadratic eps-scan), so the classic core/border/noise
# taxonomy falls out of pure graph ops (operators/graph.py:density_clusters).
# Versus t_dup_clusters' plain connected components, density clustering
# refuses to merge two dense duplicate groups that touch through a single
# low-degree bridge document: the bridge is BORDER (degree < min_pts), so
# it attaches to one cluster instead of fusing both. Oracle: degree census
# + recursive CTE over the core-core subgraph + min-adjacent-core attach.
# ---------------------------------------------------------------------------
_DBSCAN_MIN_PTS = 2


@query(
    "t_density_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_PAIR_SQL}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(DISTINCT v) AS deg FROM edges GROUP BY u),
    core AS (SELECT u AS node FROM deg WHERE deg >= {_DBSCAN_MIN_PTS}),
    cc_edges AS (
      SELECT e.u AS src, e.v AS dst
      FROM edges e
      JOIN core a ON e.u = a.node
      JOIN core b ON e.v = b.node
    ),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM core
      UNION
      SELECT e.dst AS node, r.lbl
      FROM reach r JOIN cc_edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    cores_labeled AS (
      SELECT c.node, COALESCE(m.component, c.node) AS cluster_id
      FROM core c LEFT JOIN comp m ON c.node = m.node
    ),
    border AS (
      SELECT e.u AS node, MIN(cl.cluster_id) AS cluster_id
      FROM edges e
      JOIN core cv ON e.v = cv.node
      LEFT JOIN core cu ON e.u = cu.node
      JOIN cores_labeled cl ON cl.node = e.v
      WHERE cu.node IS NULL
      GROUP BY e.u
    )
    SELECT node AS doc_id, cluster_id, TRUE AS is_core FROM cores_labeled
    UNION ALL
    SELECT node AS doc_id, cluster_id, FALSE AS is_core FROM border
    """,
)
def t_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs → DBSCAN taxonomy (core clusters + border attach).

    100 TB: the degree census and the border attach are one exchange each
    on the banded pair graph; the iterative CC (pointer-doubled min-label,
    O(log diameter) rounds) runs on the smaller core-core subgraph only.
    Noise documents are absent — the caller left-joins the corpus, absent
    => unclustered singleton."""
    from ..operators.graph import density_clusters

    pairs = t_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    out = density_clusters(pairs, min_pts=_DBSCAN_MIN_PTS,
                           src="doc_a", dst="doc_b")
    return out.select(F.col("node").alias("doc_id"), "cluster_id", "is_core")


# ---------------------------------------------------------------------------
# quality-adjudicated KEEP-ONE chunk rewrite (round 9): composes the
# keeper law of t_pair_quality_keeper with the chunk rewrite. Within each
# duplicated (chunk_hash, chunk_len) group (dedup floor len >= 16), the
# ONE surviving occurrence is the one in the highest-QUALITY document —
# integer-exact key (distinct-token count desc, then char length desc,
# then doc_id asc, then chunk_idx asc; a total deterministic order) —
# instead of t_chunk_dedup_rewrite's global-first (min doc_id, chunk_idx)
# occurrence. The artifact is the same: per-doc rebuilt text through the
# shared length-hybrid rebuild (_rebuild_dropping).
#
# 100 TB shape: identical to the cut-non-first rewrite plus ONE narrow
# doc-keyed join of the chunk rows against a 3-column quality table
# (doc_id, nd, nc) — broadcastable when the corpus' quality table fits,
# doc-keyed SMJ otherwise; the ranking window still exchanges once on
# (chunk_hash, chunk_len); text still never crosses the wire before the
# final doc⋈drops join.
# ---------------------------------------------------------------------------
@query(
    "t_chunk_keepone_rewrite",
    f"""
    WITH c AS ({_content_chunks_oracle()}),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct({TOKENS_SQL.format(c="text")})) AS BIGINT) AS nd,
             CAST(len(text) AS BIGINT) AS nc
      FROM documents
    ),
    r AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk_start, c.chunk_len,
             NOT (c.chunk_len >= {_CHUNK_DEDUP_MIN_LEN}
                  AND row_number() OVER (
                        PARTITION BY c.chunk_hash, c.chunk_len
                        ORDER BY q.nd DESC, q.nc DESC, c.doc_id, c.chunk_idx
                      ) > 1) AS kept
      FROM c JOIN q ON c.doc_id = q.doc_id
    ),
    g AS (
      SELECT r.doc_id,
             CAST(count(*) FILTER (WHERE r.kept) AS BIGINT) AS n_kept,
             COALESCE(string_agg(
               CASE WHEN r.kept THEN substr(
                 d.text,
                 CAST(r.chunk_start AS INTEGER),
                 CAST(r.chunk_len AS INTEGER)) END,
               '' ORDER BY r.chunk_idx), '') AS rebuilt_text
      FROM r JOIN documents d ON r.doc_id = d.doc_id
      GROUP BY r.doc_id
    )
    SELECT doc_id, n_kept,
           CAST(len(rebuilt_text) AS BIGINT) AS rebuilt_len,
           rebuilt_text
    FROM g
    """,
)
def t_chunk_keepone_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    q = docs.select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text")))).cast("long").alias("nd"),
        F.length("text").cast("long").alias("nc"),
    )
    c = (
        _chunk_rows(docs)
        .select("doc_id", "chunk_idx", "chunk_len", "chunk_hash")
        .join(q, "doc_id")
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_hash", "chunk_len").orderBy(
            F.col("nd").desc(), F.col("nc").desc(), "doc_id", "chunk_idx"
        )
    )
    # EAGER materialization (this makes the query RUNTIME-classified,
    # prefix-pinned): the rebuild's two length-routed branches each
    # broadcast-join against drops, and the two broadcast builds launch
    # concurrently — a LAZY persist lets them race and each re-compute the
    # chunker + quality join + ranking window before the cache populates
    # (measured 14s vs 6s warm at sf0.1; the cut-non-first rewrite's
    # cheaper drop subtree tolerates the race, this one does not). An eager
    # localCheckpoint instead of persist+count (ADVICE r9): same pin, but
    # the cached RDD is reclaimed by the ContextCleaner once the result
    # DataFrame is unreferenced — a long-lived session running the whole
    # suite no longer accumulates this query's cache. The drop table is
    # the artifact a real pipeline materializes anyway — one narrow row
    # per affected doc.
    drops = (
        c.withColumn("rn", rn)
        .filter((F.col("chunk_len") >= _CHUNK_DEDUP_MIN_LEN) & (F.col("rn") > 1))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("dropped_idx"))
    ).localCheckpoint(eager=True)
    return _rebuild_dropping(docs, drops)


# ---------------------------------------------------------------------------
# WEIGHTED MinHash near-dup (round 9): rarity-weighted Jaccard via integer
# df-bucket shingle REPLICATION — the classical reduction (weighted Jaccard
# with integer weights == plain Jaccard over the multiset with each element
# replicated weight-many times), so the certified MinHash/band machinery is
# reused VERBATIM on the replicated sets. Weight of a shingle is its corpus
# rarity bucket w = clamp(floor_log2(n_docs / df), 1, 4): boilerplate
# shingles shared by most documents count once, rare (distinctive) shingles
# count up to 4x — the production tweak that stops template boilerplate
# from dominating similarity. Candidates come from the SAME r=8, b=2
# banding; verification is the EXACT weighted Jaccard
# Σ_{h∈A∩B} w(h) / Σ_{h∈A∪B} w(h) over integer weight sums.
#
# 100 TB shape: one extra (shingle → df) aggregation and one narrow join
# vs the unweighted LSH query; replication multiplies shingle rows by ≤4;
# banding still bounds candidates — never all-pairs; verification joins
# only candidate pairs back to (doc, shingle, w) rows.
# ---------------------------------------------------------------------------
_WMH_MAX_W = 4
_WMH_THRESH = 0.8
# replica hashing is ARITHMETIC, not md5-of-string: rh = (h·A + j·B) mod M31
# — a bijection of h per replica index j (j < 4), so replicas behave as
# distinct set elements under the minhash permutations, at multiply-add
# cost instead of ~15M string md5s at sf0.1 (measured 2x on the rep stage)
_WMH_REP_A = 2654435761
_WMH_REP_B = 1779033703
from ..operators.text import MERSENNE31 as _M31  # noqa: E402


@query(
    "t_wminhash_pairs",
    f"""
    WITH docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    sh AS (SELECT doc_id, unnest(sh) AS h FROM docs),
    dfreq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY h),
    shw AS (
      SELECT s.doc_id, s.h,
             LEAST({_WMH_MAX_W},
                   GREATEST(1, CAST(length(bin(n.n_docs // d.df)) - 1 AS BIGINT)))
               AS w
      FROM sh s JOIN dfreq d USING (h), n
    ),
    rep AS (
      SELECT doc_id,
             (h * {_WMH_REP_A} + j * {_WMH_REP_B}) % {_M31} AS rh
      FROM (SELECT doc_id, h, w, unnest(range(CAST(w AS INTEGER))) AS j FROM shw)
    ),
    sigs AS (
      SELECT doc_id, {minhash_signature_sql("list(rh)", _K)} AS sig
      FROM rep GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {band_key_sql('sig', b, _R)} AS bkey FROM sigs"
        for b in range(_B)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    wsum AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw FROM shw GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(SUM(a.w) AS BIGINT) AS iw
      FROM cand c
      JOIN shw a ON a.doc_id = c.doc_a
      JOIN shw b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.iw AS inter_w,
           wa.tw + wb.tw - i.iw AS union_w,
           CAST(i.iw AS DOUBLE) / (wa.tw + wb.tw - i.iw) AS wjaccard
    FROM inter i JOIN wsum wa ON wa.doc_id = i.doc_a
                 JOIN wsum wb ON wb.doc_id = i.doc_b
    WHERE CAST(i.iw AS DOUBLE) / (wa.tw + wb.tw - i.iw) >= {_WMH_THRESH}
    """,
)
def t_wminhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", shingle_hashes31(F.col("text")).alias("sh")
    )
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    sh = docs.select("doc_id", F.explode("sh").alias("h"))
    dfreq = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    # scale shape: w < MAX requires df > n/2^MAX, and the count of such
    # high-df (boilerplate) shingles is bounded by 2^MAX * avg shingles
    # per doc — CORPUS-SIZE-INDEPENDENT — so the weight lookup is a
    # BROADCAST left join against that small table (default weight MAX),
    # not a second full h-keyed exchange of every shingle row. The df
    # census itself is one partial-aggregated exchange. The oracle keeps
    # the plain formulation (identical w values).
    hi = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(
            F.col("df") * F.lit(1 << _WMH_MAX_W).cast("long") > F.col("n_docs")
        )
        .select("h", "df")
    )
    shw = (
        sh.join(F.broadcast(hi), "h", "left")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "w",
            F.when(F.col("df").isNull(), F.lit(_WMH_MAX_W).cast("long")).otherwise(
                F.least(
                    F.lit(_WMH_MAX_W).cast("long"),
                    F.greatest(
                        F.lit(1).cast("long"),
                        # exact integer division (`div`), NOT floor(a/b) on
                        # doubles: a quotient half-ulp under a power of two
                        # could round UP and shift the weight bucket off the
                        # oracle's n_docs // df (ADVICE r9) — `div` makes the
                        # two formulations provably identical at any scale
                        (
                            F.length(F.bin(F.expr("n_docs div df"))) - 1
                        ).cast("long"),
                    ),
                )
            ),
        )
        .select("doc_id", "h", "w")
    )
    # signature as 16 GROUPED MINS over EXPLODED replica rows (round 11,
    # restoring the round-9 signature shape): w <= _WMH_MAX_W = 4 bounds the
    # replica blow-up at 4x the (doc, shingle) rows, and each replica row
    # then evaluates 16 SCALAR mod expressions inside one whole-stage-codegen
    # partial aggregate. The round-10 in-row fold (16 per-row
    # F.transform(F.sequence(0, w-1)) materializations) was flagged as the
    # suite's worst bench ratio (VERDICT r10); the round-11 3-run warm audit
    # shows that was mostly cold-state noise (in-row: 14.68 cold / 7.47 warm
    # vs bar 8.396), but the exploded shape measures better on BOTH ends
    # (11.61 cold / 7.04 warm at sf0.1; sf1 decade re-measured, see
    # SCALING.md), so it is restored. min over (h, j) = min over exploded
    # (h, j) rows, and the per-doc exchange still carries 16 longs (partial
    # min map-side), so values and exchange count are identical to both
    # prior shapes. Same permutation family as minhash_signature, so the
    # oracle's replica-list form computes identical values.
    from ..functions.hashing import MINHASH_PERMS as _PERMS

    rep = shw.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("w") - 1),
                lambda j: (
                    F.col("h") * F.lit(_WMH_REP_A) + j * F.lit(_WMH_REP_B)
                )
                % _M31,
            )
        ).alias("rh"),
    )
    sigs = rep.groupBy("doc_id").agg(
        *[
            F.min((F.col("rh") * _PERMS[i][0] + _PERMS[i][1]) % _M31).alias(
                f"_s{i}"
            )
            for i in range(_K)
        ]
    ).select("doc_id", F.array(*[f"_s{i}" for i in range(_K)]).alias("sig"))
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(F.col("sig"), bi, _R) for bi in range(_B)])
        ).alias("band_idx", "bkey"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verification by the LSH-verification ARRAY discipline (round 10):
    # ONE per-doc row carries (sorted hash array, h→w map, total weight),
    # candidates join it once per side on doc_id, and the exact weighted
    # intersection folds IN-ROW (aggregate over array_intersect with a map
    # lookup — global df-weights make w_a[h] ≡ w_b[h]). Replaces the
    # round-9 row-level verify, which exploded every candidate pair into
    # its |A| shingle rows and shuffled the (doc, shingle, w) table twice;
    # measured sf1 decade 50.9 → 47.3 s. (A further two-pass rework
    # computing the signatures in-row from these arrays was measured
    # SLOWER — sf0.1 7.3 → 16.1 s: sixteen in-row array walks with
    # per-element replica sequences cost more than the explode+grouped-min
    # they replace, so the signature stage deliberately stays on the
    # exploded rows.)
    docw = shw.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.map_from_entries(F.collect_list(F.struct("h", "w"))).alias("hw"),
        F.sum("w").cast("long").alias("tw"),
    )
    da = docw.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("hw").alias("hw_a"),
        F.col("tw").alias("twa"),
    )
    db = docw.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("tw").alias("twb"),
    )
    iw = F.aggregate(
        F.array_intersect(F.col("hs_a"), F.col("hs_b")),
        F.lit(0).cast("long"),
        lambda acc, h: acc + F.element_at(F.col("hw_a"), h),
    )
    out = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("iw", iw)
        .select(
            "doc_a",
            "doc_b",
            F.col("iw").alias("inter_w"),
            (F.col("twa") + F.col("twb") - F.col("iw")).alias("union_w"),
            (
                F.col("iw").cast("double")
                / (F.col("twa") + F.col("twb") - F.col("iw"))
            ).alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= _WMH_THRESH)
    )
    return out


# ---------------------------------------------------------------------------
# Weighted-MinHash KEEP-ONE artifact (round 10): the pruned document set —
# the lexical-side mirror of e_semdedup_keepone. Rarity-weighted near-dup
# pairs (t_wminhash_pairs, composed verbatim: banded candidates, exact
# integer weighted-Jaccard verify) form the similarity graph; transitive
# closure merges chained near-dups into groups (CC — A~B~C with A≁C is
# one group, an unrelated D~E another); each group keeps its min doc_id.
# One row per corpus document (doc_id, group_rep, kept) — the table a
# curation pipeline anti-joins to drop boilerplate-discounted duplicates.
# RUNTIME query (iterative min-label CC), prefix-pinned.
# ---------------------------------------------------------------------------
@query(
    "t_wminhash_keepone",
    f"""
    WITH RECURSIVE approx AS ({ORACLES["t_wminhash_pairs"]}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM approx
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM approx
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           c.component AS group_rep,
           (c.component IS NULL OR c.component = d.doc_id) AS kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def t_wminhash_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = t_wminhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = spread(read(spark, sf_dir, "documents"), spark).select("doc_id")
    j = docs.join(comp, docs["doc_id"] == comp["node"], "left")
    return j.select(
        "doc_id",
        F.col("component").alias("group_rep"),
        (
            F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
        ).alias("kept"),
    )



# ---------------------------------------------------------------------------
# Perplexity-bucket census (round 10): the CCNet head/middle/tail split —
# the data-curation move that buckets a corpus into quality terciles by
# LM score and samples/filters per bucket — over the integer-exact
# unigram-surprisal proxy (t_unigram_surprisal composed verbatim).
# Terciles are VALUE-based, not rank-based, for the 100 TB shape: an
# NTILE over documents needs a global sort of the corpus, while the
# per-1k score domain is a BOUNDED integer grid — so the census is one
# (score → doc count) aggregation (map-side combinable), one cumulative
# window on the bounded grid, and the two cutoff values ride a one-row
# broadcast into a map-side bucket assignment. Cutoffs avoid division:
# q1 = min{s : 3·cum(s) ≥ n}, q2 = min{s : 3·cum(s) ≥ 2n} — exact
# integer arithmetic, engine-identical; boundary ties share a bucket
# (deterministic, unlike rank ntile). Output: per-bucket doc count,
# token mass, and score range — the table a pipeline samples against.
# ---------------------------------------------------------------------------
@query(
    "t_perplexity_buckets",
    f"""
    WITH per AS ({_surprisal_oracle()}),
    hist AS (
      SELECT surprisal_per_1k AS s, count(*) AS nd FROM per GROUP BY 1
    ),
    cum AS (
      SELECT s, SUM(nd) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
      FROM hist
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
    cuts AS (
      SELECT MIN(CASE WHEN 3 * cumn >= tot.n THEN s END) AS q1v,
             MIN(CASE WHEN 3 * cumn >= 2 * tot.n THEN s END) AS q2v
      FROM cum CROSS JOIN tot
    )
    SELECT CAST(CASE WHEN p.surprisal_per_1k <= c.q1v THEN 1
                     WHEN p.surprisal_per_1k <= c.q2v THEN 2
                     ELSE 3 END AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS token_mass,
           MIN(p.surprisal_per_1k) AS min_surp_per_1k,
           MAX(p.surprisal_per_1k) AS max_surp_per_1k
    FROM per p CROSS JOIN cuts c
    GROUP BY 1
    """,
)
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = t_unigram_surprisal(spark, sf_dir)
    return _tercile_census(per)


def _tercile_census(per: DataFrame) -> DataFrame:
    """CCNet tercile census over a (doc_id, n_tokens, surprisal_per_1k)
    relation — extracted fingerprint-neutrally (round 11) so the streaming
    twin's drained-store adjudication delegates to the batch tail verbatim
    (the w_stream_hourly_seasonality pure-delegation precedent; the batch
    plan stays byte-identical, rotation-guard-verified)."""
    from pyspark.sql import Window

    hist = per.groupBy(F.col("surprisal_per_1k").alias("s")).agg(
        F.count("*").alias("nd")
    )
    # bounded-grid window: the partition is the distinct integer score
    # domain, not the corpus (the w_cusum_changepoint discipline)
    wv = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("s", F.sum("nd").over(wv).alias("cumn"))
    tot = per.agg(F.count("*").cast("long").alias("n"))
    cuts = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(3 * F.col("cumn") >= F.col("n"), F.col("s"))).alias("q1v"),
        F.min(F.when(3 * F.col("cumn") >= 2 * F.col("n"), F.col("s"))).alias("q2v"),
    )
    bucket = (
        F.when(F.col("surprisal_per_1k") <= F.col("q1v"), 1)
        .when(F.col("surprisal_per_1k") <= F.col("q2v"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        per.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "n_tokens", "surprisal_per_1k")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
            F.min("surprisal_per_1k").alias("min_surp_per_1k"),
            F.max("surprisal_per_1k").alias("max_surp_per_1k"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (round 10): tokens-per-character by
# PREDICTED language — the tokenizer-budget dashboard a multilingual
# training pipeline reads before fixing a sampling mix (fertility is how
# many tokens the tokenizer spends per unit of text; high-fertility
# languages burn budget faster). Composes two certified operators
# VERBATIM: the stopword-argmax language identifier (t_lang_id) and the
# BPE-ish regex pre-tokenizer census (t_bpe_token_count); character
# counts are engine-identical length(). One per-doc join on doc_id, a
# bounded-by-|langs| aggregation, and the per-1k ratio in exact integer
# arithmetic (counts are non-negative, `div` ≡ `//`).
# ---------------------------------------------------------------------------
@query(
    "t_lang_fertility",
    f"""
    WITH lang AS ({{LANG_ORACLE}}),
    cnt AS ({{CNT_ORACLE}}),
    chars AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
              FROM documents)
    SELECT l.predicted_lang AS lang,
           count(*) AS n_docs,
           CAST(SUM(c.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(t.n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(t.n_bpe_tokens) * 1000 // SUM(c.n_chars) AS BIGINT)
             AS tokens_per_1k_chars
    FROM lang l JOIN cnt t USING (doc_id) JOIN chars c USING (doc_id)
    GROUP BY 1
    """,
)
def t_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    lang = t_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    cnt = t_bpe_token_count(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    chars = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return (
        lang.join(cnt, "doc_id")
        .join(chars, "doc_id")
        .groupBy(F.col("predicted_lang").alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.expr("(sum(n_bpe_tokens) * 1000) div sum(n_chars)")
            .cast("long")
            .alias("tokens_per_1k_chars"),
        )
    )


ORACLES["t_lang_fertility"] = ORACLES["t_lang_fertility"].replace(
    "{LANG_ORACLE}", ORACLES["t_lang_id"]
).replace("{CNT_ORACLE}", ORACLES["t_bpe_token_count"])


# ---------------------------------------------------------------------------
# STREAMING fertility-dashboard twin (round 12): the tokenizer-budget
# census in deployed mode. Unlike the perplexity twin, every per-doc
# score here is CORPUS-INDEPENDENT (stopword-argmax lang, char length,
# regex pre-tokenizer count are pure functions of the document), so the
# stream needs no drained-global phase for scoring: each micro-batch
# computes its docs' (doc_id, predicted_lang, n_chars, n_bpe_tokens)
# rows ONCE — text is read exactly once, on ingest — and appends them to
# a doc-keyed store; the bounded-by-|langs| census aggregation runs at
# read time over the narrow store (no text rescan). Restart leg:
# incarnation 1 drains two staged files, the third appears only after
# the handoff and is picked up from the checkpoint. Replay safety: each
# doc lands in exactly one batch and its score row is deterministic, so
# an at-least-once re-append is byte-identical and the read-time
# distinct() restores exact counts. After the drain the result must
# hash-match the one-shot batch oracle (t_lang_fertility's SQL, reused
# verbatim). 100 TB shape: per-batch work is embarrassingly parallel
# scoring of THE BATCH only; the final exchange moves |langs| partials.
# ---------------------------------------------------------------------------
def t_stream_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-fert-gate-")
    third = (
        md5_long(F.concat(F.lit("fertsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(
        workdir, [docs.filter(third == i) for i in range(3)], held=1
    )

    store_dir = f"{workdir}/langscores"

    best = _best_lang(
        [stopword_count(F.col("text"), lg).cast("long") for lg in _LANGS]
    )

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                "doc_id",
                best.alias("predicted_lang"),
                F.length("text").cast("long").alias("n_chars"),
                F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
                .cast("long")
                .alias("n_bpe_tokens"),
            )
            .write.mode("append")
            .parquet(store_dir)
        )

    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_fertility (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_fertility (3 files)")

    store = spark.read.parquet(store_dir).distinct()
    return store.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.expr("(sum(n_bpe_tokens) * 1000) div sum(n_chars)")
        .cast("long")
        .alias("tokens_per_1k_chars"),
    )


QUERIES["t_stream_lang_fertility"] = t_stream_lang_fertility
ORACLES["t_stream_lang_fertility"] = ORACLES["t_lang_fertility"]


# ---------------------------------------------------------------------------
# STREAMING perplexity-tercile twin (round 11): quality-bucketing on a
# document stream. A doc's surprisal depends on CORPUS-GLOBAL vocabulary
# counts, so no per-batch score is final — this is the drained-vocab
# TWO-PHASE shape the winnow/LSH stream gates established: phase 1
# accretes only the narrow per-doc token census (doc_id, tok, cnt) into
# an append-only store (tokenize-on-ingest — the corpus text is read
# exactly once, per micro-batch); phase 2, after the stream drains,
# computes the vocabulary, the integer-exact surprisal scores, and the
# value-based tercile census FROM THE STORE (no text rescan), delegating
# to the batch tail verbatim (_tercile_census). Restart leg: incarnation
# 1 drains two staged files, the third appears only after the handoff
# and is picked up from the checkpoint. Replay safety: each doc lands in
# exactly one batch and its (doc_id, tok, cnt) rows are deterministic,
# so an at-least-once re-append is byte-identical and the drain-time
# distinct() restores exact counts. After the drain the result must
# hash-match the one-shot batch oracle (t_perplexity_buckets' SQL,
# reused verbatim). 100 TB shape: per-batch work is one tokenize +
# map-side-combined (doc_id, tok) count of THE BATCH only; the global
# vocab/total/census aggregations run once at read time over the
# vocabulary-keyed store — the same exchanges as the batch plan.
# ---------------------------------------------------------------------------
def t_stream_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-perp-gate-")
    third = (
        md5_long(F.concat(F.lit("perpsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(
        workdir, [docs.filter(third == i) for i in range(3)], held=1
    )

    store_dir = f"{workdir}/tokcounts"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
            )
            .groupBy("doc_id", "tok")
            .agg(F.count("*").alias("cnt"))
            .write.mode("append")
            .parquet(store_dir)
        )

    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "t_stream_perplexity_buckets (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "t_stream_perplexity_buckets (3 files)")

    store = spark.read.parquet(store_dir).distinct()
    vocab = store.groupBy("tok").agg(F.sum("cnt").alias("c"))
    total = store.agg(F.sum("cnt").alias("n"))
    # per-(doc, tok) surprisal from the store: cnt occurrences each worth
    # floor_log2(n div c) — identical to the batch per-token sum because
    # every occurrence of a token scores the same integer
    per = (
        store.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "cnt",
            (
                F.col("cnt")
                * (F.length(F.bin(F.expr("n div c"))) - 1).cast("long")
            ).alias("surp"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum("surp").cast("long").alias("surprisal_sum"),
            F.expr("(sum(surp) * 1000) div sum(cnt)")
            .cast("long")
            .alias("surprisal_per_1k"),
        )
    )
    return _tercile_census(per)


QUERIES["t_stream_perplexity_buckets"] = t_stream_perplexity_buckets
ORACLES["t_stream_perplexity_buckets"] = ORACLES["t_perplexity_buckets"]


# ---------------------------------------------------------------------------
# LSH band-plan sweep (round 11): the DEDUP-side tuning surface — the
# table a deployment reads before fixing its (bands × rows-per-band)
# split of a K=16 MinHash signature. The S-curve P(collide) = 1−(1−s^r)^b
# trades recall against candidate volume: more bands (smaller r) catch
# lower-similarity pairs but explode the candidate set a verifier must
# scan. This query MEASURES that trade on the corpus for the three
# b·r = 16 plans — (2,8) the production config, (4,4), (8,2) — reporting
# per plan the candidate-pair count, the verified count at the global
# Jaccard threshold, and the resulting precision. ONE shingle pass and
# ONE signature projection feed all three arms (the same 16 grouped mins
# — band splits are just different groupings of the same signature), so
# the three band explodes reference the sigs subtree canonically and
# ReusedExchange collapses them in the SMJ regime; per arm the work is
# the certified t_minhash_lsh_pairs shape (narrow band self-join +
# array-discipline verify). Integer counts; precision is one terminal
# double division guarded against an empty candidate set.
# ---------------------------------------------------------------------------
_LSH_SWEEP_PLANS = ((2, 8), (4, 4), (8, 2))  # (bands, rows) with b*r = K


def _lsh_band_sweep_oracle(docs_cte: str | None = None) -> str:
    docs_cte = docs_cte or (
        f"""docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh FROM documents
    )"""
    )
    ctes = [
        f"""{docs_cte},
    sigs AS (
      SELECT doc_id, sh, {minhash_signature_sql("sh", _K)} AS sig FROM docs
    )"""
    ]
    arms = []
    for nb, r in _LSH_SWEEP_PLANS:
        ctes.append(f"""bands_{nb}_{r} AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_idx, {band_key_sql('sig', bi, r)} AS bkey FROM sigs"
        for bi in range(nb)
      )}
    ),
    cand_{nb}_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{nb}_{r} a JOIN bands_{nb}_{r} b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    ver_{nb}_{r} AS (
      SELECT count(*) AS nv
      FROM cand_{nb}_{r} c JOIN docs x ON c.doc_a = x.doc_id
                           JOIN docs y ON c.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
            >= {_LSH_THRESH}
    )""")
        arms.append(
            f"SELECT CAST({nb} AS BIGINT) AS n_bands, "
            f"CAST({r} AS BIGINT) AS rows_per_band, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM cand_{nb}_{r}) AS n_candidates, "
            f"(SELECT CAST(nv AS BIGINT) FROM ver_{nb}_{r}) AS n_verified, "
            f"CASE WHEN (SELECT count(*) FROM cand_{nb}_{r}) = 0 THEN 0.0 "
            f"ELSE (SELECT CAST(nv AS DOUBLE) FROM ver_{nb}_{r}) "
            f"   / (SELECT count(*) FROM cand_{nb}_{r}) END AS precision"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(arms)


@query("t_lsh_band_sweep", _lsh_band_sweep_oracle())
def t_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark shape: ONE plan-tagged band table (each doc explodes its
    2+4+8 band keys with their plan id in one pass), ONE band self-join
    (the plan id joins like a band index, so arms never cross-collide),
    and — the big saving — ONE verification pass: a pair colliding in
    several plans has one Jaccard, so the exact verify runs over the
    DISTINCT pair union and each plan's verified count comes from a flag
    join. Measured honestly: this single-pass form and the per-arm loop
    it replaced are within noise of each other at every scale
    (fresh-session sf0.1 12.2 cold / 5.6 warm both ways; sf1 decade
    ~170 s both ways) — the decade cost lives in the CANDIDATE join's
    quadratic bucket occupancy on the low-r arm, identical in both
    shapes and addressed by the sampling mitigation documented in
    SCALING.md, not by verify sharing. The single-pass form is kept for
    structure (one band exchange, one verify) rather than a measured
    win. A plan with zero candidates keeps its row via the left join
    from the static 3-row plan table."""
    docs = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return _band_sweep_table(spark, docs)


def _band_sweep_table(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The three-arm sweep over a prepared ``(doc_id, sh)`` relation —
    shared by the full-corpus sweep (gate scales) and the sampled
    deployment variant (extracted round 12 while the full sweep was
    still pending its first cert, so both certify fresh)."""
    sigs = docs.withColumn("sig", minhash_signature(F.col("sh"), _K))
    tagged = F.array(
        *[
            F.struct(
                F.lit(nb).cast("long").alias("nb"),
                F.lit(bi).cast("long").alias("band_idx"),
                band_key(F.col("sig"), bi, r).alias("bkey"),
            )
            for nb, r in _LSH_SWEEP_PLANS
            for bi in range(nb)
        ]
    )
    bands = sigs.select("doc_id", F.explode(tagged).alias("t")).select(
        "doc_id", "t.nb", "t.band_idx", "t.bkey"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.nb") == F.col("b.nb"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.nb").alias("nb"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    verified = (
        cand.select("doc_a", "doc_b")
        .distinct()
        .join(x, "doc_a")
        .join(y, "doc_b")
        .filter(jac >= _LSH_THRESH)
        .select("doc_a", "doc_b", F.lit(1).cast("long").alias("v"))
    )
    stats = (
        cand.join(verified, ["doc_a", "doc_b"], "left")
        .groupBy("nb")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("v"), F.lit(0).cast("long")))
            .cast("long")
            .alias("n_verified"),
        )
    )
    from .helpers import static_plan_table

    plans = static_plan_table(
        spark,
        "nb long, rows_per_band long",
        [(nb, r) for nb, r in _LSH_SWEEP_PLANS],
    )
    return (
        plans.join(F.broadcast(stats), "nb", "left")
        .select(
            F.col("nb").alias("n_bands"),
            "rows_per_band",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            F.coalesce(F.col("n_verified"), F.lit(0).cast("long")).alias(
                "n_verified"
            ),
            F.when(
                F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")) == 0,
                F.lit(0.0),
            )
            .otherwise(
                F.col("n_verified").cast("double") / F.col("n_candidates")
            )
            .alias("precision"),
        )
    )


# ---------------------------------------------------------------------------
# SAMPLED band-plan sweep (round 12): the 100-TB DEPLOYMENT shape of the
# sweep above. The full sweep's low-r arm is honestly superlinear — a
# (8,2) band bucket holds a whole duplicate cluster, so its candidate
# self-join grows quadratically in cluster size (measured 31× for 10×
# rows at the sf0.1→sf1 decade; SCALING.md). But the sweep's OUTPUT is
# ratios (precision, relative candidate volume across arms), and ratios
# are sample-stable — so the shape a deployment actually runs sweeps a
# deterministic md5 document sample of FIXED ABSOLUTE SIZE: the modulus
# scales with the corpus (D = ceil(n / TARGET), one broadcast 1-row
# count — no collect), so ~TARGET docs survive at ANY corpus size and
# the candidate join is decade-flat by construction. Membership is a
# pure function of doc_id (salted md5), so the sample — and the row
# hash — is deterministic and partitioning-independent. Same three
# b·r = 16 arms, same zero-preserving 3-row plan table.
# ---------------------------------------------------------------------------
_BSW_SAMPLE_TARGET = 300
_BSW_SAMPLED_DOCS_CTE = f"""docs AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh
      FROM documents CROSS JOIN
           (SELECT (count(*) + {_BSW_SAMPLE_TARGET - 1}) // {_BSW_SAMPLE_TARGET}
                   AS dd FROM documents) tot
      WHERE ({md5_long_sql("'bsw:' || CAST(doc_id AS VARCHAR)")} % tot.dd) = 0
    )"""


@query(
    "t_lsh_band_sweep_sampled",
    _lsh_band_sweep_oracle(docs_cte=_BSW_SAMPLED_DOCS_CTE),
)
def t_lsh_band_sweep_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read(spark, sf_dir, "documents"), spark).select("doc_id", "text")
    tot = d.agg(F.count("*").cast("long").alias("n"))
    member = (
        md5_long(F.concat(F.lit("bsw:"), F.col("doc_id").cast("string")))
        % F.expr(f"(n + {_BSW_SAMPLE_TARGET - 1}) DIV {_BSW_SAMPLE_TARGET}")
        == 0
    )
    docs = (
        d.crossJoin(F.broadcast(tot))
        .filter(member)
        .select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return _band_sweep_table(spark, docs)


# ---------------------------------------------------------------------------
# Language × quality-bucket sampling matrix (round 11): the table a
# multilingual curation pipeline reads to allocate its sampling budget —
# doc count and token mass per (predicted language, perplexity tercile)
# cell, composing three certified laws VERBATIM: the stopword-argmax
# language identifier (t_lang_id), the integer-exact surprisal proxy
# (t_unigram_surprisal), and the value-based tercile cutoffs
# (t_perplexity_buckets' bounded-grid law — same hist/cum/cuts
# expressions). CCNet buckets say WHAT quality looks like; fertility says
# WHAT a language costs; this is the joint view that decides the mix.
# Bounded output (|langs| × 3); all counts integer-exact; the only new
# exchange beyond the composed chains is one doc_id join and the final
# bounded aggregation.
# ---------------------------------------------------------------------------
@query(
    "t_lang_quality_mix",
    f"""
    WITH per AS ({_surprisal_oracle()}),
    lang AS ({{LANG_ORACLE}}),
    hist AS (
      SELECT surprisal_per_1k AS s, count(*) AS nd FROM per GROUP BY 1
    ),
    cum AS (
      SELECT s, SUM(nd) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
      FROM hist
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
    cuts AS (
      SELECT MIN(CASE WHEN 3 * cumn >= tot.n THEN s END) AS q1v,
             MIN(CASE WHEN 3 * cumn >= 2 * tot.n THEN s END) AS q2v
      FROM cum CROSS JOIN tot
    )
    SELECT l.predicted_lang AS lang,
           CAST(CASE WHEN p.surprisal_per_1k <= c.q1v THEN 1
                     WHEN p.surprisal_per_1k <= c.q2v THEN 2
                     ELSE 3 END AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS token_mass
    FROM per p CROSS JOIN cuts c JOIN lang l USING (doc_id)
    GROUP BY 1, 2
    """,
)
def t_lang_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per = t_unigram_surprisal(spark, sf_dir)
    lang = t_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    hist = per.groupBy(F.col("surprisal_per_1k").alias("s")).agg(
        F.count("*").alias("nd")
    )
    wv = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("s", F.sum("nd").over(wv).alias("cumn"))
    tot = per.agg(F.count("*").cast("long").alias("n"))
    cuts = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(3 * F.col("cumn") >= F.col("n"), F.col("s"))).alias("q1v"),
        F.min(F.when(3 * F.col("cumn") >= 2 * F.col("n"), F.col("s"))).alias("q2v"),
    )
    bucket = (
        F.when(F.col("surprisal_per_1k") <= F.col("q1v"), 1)
        .when(F.col("surprisal_per_1k") <= F.col("q2v"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        per.crossJoin(F.broadcast(cuts))
        .join(lang, "doc_id")
        .select(
            F.col("predicted_lang").alias("lang"),
            bucket.alias("bucket"),
            "n_tokens",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
        )
    )


ORACLES["t_lang_quality_mix"] = ORACLES["t_lang_quality_mix"].replace(
    "{LANG_ORACLE}", ORACLES["t_lang_id"]
)


# ---------------------------------------------------------------------------
# STREAMING lang × quality-mix twin (round 13): the sampling-budget
# matrix in deployed mode. The tercile cutoffs are CORPUS-GLOBAL (they
# depend on every doc's surprisal, which depends on the corpus-global
# vocabulary), so this is the drained-store TWO-PHASE shape the
# winnow/LSH/perplexity stream gates established — with the fertility
# twin's on-ingest scoring folded in: phase 1 scores each micro-batch
# ONCE (text is read exactly once, on ingest), computing the
# stopword-argmax predicted language and the per-doc token census in one
# pass, and appends narrow (doc_id, predicted_lang, tok, cnt) rows to
# the store (lang is functional on doc_id, so it rides the census grain
# without changing its cardinality); phase 2, after the stream drains,
# computes the vocabulary, the integer-exact surprisal scores, the
# value-based tercile cutoffs and the (lang × tercile) census FROM THE
# STORE (no text rescan) — the same expressions as the batch
# t_lang_quality_mix tail. Restart leg: incarnation 1 drains two staged
# files, the third appears only after the handoff and is picked up from
# the checkpoint. Replay safety: each doc lands in exactly one batch and
# its store rows are deterministic, so an at-least-once re-append is
# byte-identical and the drain-time distinct() restores exact counts.
# After the drain the result must hash-match the one-shot batch oracle
# (t_lang_quality_mix's SQL, reused verbatim). 100 TB shape: per-batch
# work is one score+tokenize map-side-combined census of THE BATCH only;
# the global vocab/cuts aggregations run once at read time over the
# vocabulary-keyed store, and the final exchange moves |langs| × 3
# partials — the same exchanges as the batch plan.
# ---------------------------------------------------------------------------
def t_stream_lang_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-langmix-gate-")
    third = (
        md5_long(F.concat(F.lit("langmixsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(
        workdir, [docs.filter(third == i) for i in range(3)], held=1
    )

    store_dir = f"{workdir}/langtokcounts"

    best = _best_lang(
        [stopword_count(F.col("text"), lg).cast("long") for lg in _LANGS]
    )

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                "doc_id",
                best.alias("predicted_lang"),
                F.explode(tokens(F.col("text"))).alias("tok"),
            )
            .groupBy("doc_id", "predicted_lang", "tok")
            .agg(F.count("*").alias("cnt"))
            .write.mode("append")
            .parquet(store_dir)
        )

    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_quality_mix (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_quality_mix (3 files)")

    store = spark.read.parquet(store_dir).distinct()
    lang = store.select("doc_id", "predicted_lang").distinct()
    counts = store.select("doc_id", "tok", "cnt")
    vocab = counts.groupBy("tok").agg(F.sum("cnt").alias("c"))
    total = counts.agg(F.sum("cnt").alias("n"))
    # per-(doc, tok) surprisal from the store: cnt occurrences each worth
    # floor_log2(n div c) — identical to the batch per-token sum because
    # every occurrence of a token scores the same integer
    per = (
        counts.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "cnt",
            (
                F.col("cnt")
                * (F.length(F.bin(F.expr("n div c"))) - 1).cast("long")
            ).alias("surp"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.expr("(sum(surp) * 1000) div sum(cnt)")
            .cast("long")
            .alias("surprisal_per_1k"),
        )
    )
    hist = per.groupBy(F.col("surprisal_per_1k").alias("s")).agg(
        F.count("*").alias("nd")
    )
    wv = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("s", F.sum("nd").over(wv).alias("cumn"))
    tot = per.agg(F.count("*").cast("long").alias("n"))
    cuts = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(3 * F.col("cumn") >= F.col("n"), F.col("s"))).alias("q1v"),
        F.min(F.when(3 * F.col("cumn") >= 2 * F.col("n"), F.col("s"))).alias("q2v"),
    )
    bucket = (
        F.when(F.col("surprisal_per_1k") <= F.col("q1v"), 1)
        .when(F.col("surprisal_per_1k") <= F.col("q2v"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        per.crossJoin(F.broadcast(cuts))
        .join(lang, "doc_id")
        .select(
            F.col("predicted_lang").alias("lang"),
            bucket.alias("bucket"),
            "n_tokens",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
        )
    )


QUERIES["t_stream_lang_quality_mix"] = t_stream_lang_quality_mix
ORACLES["t_stream_lang_quality_mix"] = ORACLES["t_lang_quality_mix"]


# ---------------------------------------------------------------------------
# Temperature-sampled language mixture (round 13): the α-sampling
# allocation a multilingual training pipeline applies AFTER the census —
# natural (proportional) sampling starves low-resource languages, so the
# mixture is re-weighted by p_l^α (XLM-R / mT5 discipline). α = 1/2 is
# used here because IEEE sqrt is correctly rounded in BOTH engines, so
# the weight law stays bit-deterministic cross-engine where a pow(p, .7)
# would not be; the sqrt is immediately integer-quantized (floor ×1000)
# and every downstream ratio is exact integer arithmetic. Output, one
# row per predicted language (bounded by |langs|): doc count, natural
# share, temperature weight, temperature allocation, and the up/down-
# sampling boost a deployment applies per language. Composes the
# certified stopword-argmax language identifier VERBATIM (t_lang_id).
# Complements t_mixture_plan (per-SOURCE shares vs a UNIFORM target):
# temperature sampling interpolates between natural and uniform instead
# of forcing uniform, and keys on the PREDICTED language, the axis a
# multilingual run actually balances.
# 100 TB shape: the lang census is one map-side-combined aggregation;
# everything after operates on the |langs|-row table (one broadcast
# 1-row total join, no corpus re-scan).
# ---------------------------------------------------------------------------
@query(
    "t_lang_temperature_mix",
    """
    WITH lang AS ({LANG_ORACLE}),
    census AS (
      SELECT predicted_lang AS lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM lang GROUP BY 1
    ),
    w AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)
               AS temp_weight_milli
      FROM census
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(temp_weight_milli) AS BIGINT) AS total_w
      FROM w
    )
    SELECT w.lang, w.n_docs,
           (w.n_docs * 1000000) // tot.total_docs AS natural_micro,
           w.temp_weight_milli,
           (w.temp_weight_milli * 1000000) // tot.total_w AS alloc_micro,
           CASE WHEN (w.n_docs * 1000000) // tot.total_docs > 0
                THEN ((w.temp_weight_milli * 1000000) // tot.total_w) * 1000
                     // ((w.n_docs * 1000000) // tot.total_docs)
           END AS boost_milli
    FROM w CROSS JOIN tot
    """,
)
def t_lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    census = (
        t_lang_id(spark, sf_dir)
        .groupBy(F.col("predicted_lang").alias("lang"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    return _temperature_alloc(census)


def _temperature_alloc(census: DataFrame) -> DataFrame:
    """α = 1/2 allocation tail over the |langs|-row census — shared
    VERBATIM by t_lang_temperature_mix (batch),
    t_stream_lang_temperature_mix (the drained-store deployed twin) and
    t_train_mix_manifest (the train-split manifest). ``census`` must
    carry (lang, n_docs, *extra); extra columns (e.g. token mass) ride
    through untouched so a composer never re-scans the corpus to join
    them back."""
    w = census.withColumn(
        "temp_weight_milli",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long"),
    )
    tot = w.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("temp_weight_milli").cast("long").alias("total_w"),
    )
    shares = w.crossJoin(F.broadcast(tot)).select(
        *census.columns,
        F.expr("(n_docs * 1000000) div total_docs").alias("natural_micro"),
        "temp_weight_milli",
        F.expr("(temp_weight_milli * 1000000) div total_w").alias("alloc_micro"),
    )
    # exact integer div, never double-divide-then-cast (half-ulp truncation
    # hazard vs the oracle's floor division); NULL — in BOTH engines — for
    # a language whose share floors to 0 micro (sub-ppm at extreme corpus
    # sizes), instead of Spark-NULL-vs-DuckDB-error divergence
    return shares.withColumn(
        "boost_milli",
        F.expr(
            "CASE WHEN natural_micro > 0 "
            "THEN (alloc_micro * 1000) div natural_micro END"
        ),
    )


ORACLES["t_lang_temperature_mix"] = ORACLES["t_lang_temperature_mix"].replace(
    "{LANG_ORACLE}", ORACLES["t_lang_id"]
)


# ---------------------------------------------------------------------------
# STREAMING temperature-mix twin (round 14): the α = 1/2 mixture
# allocation in deployed mode, with CENSUS-ONLY state — the cheapest
# state shape in the streaming family. The per-doc language score is
# corpus-independent (stopword argmax is a pure function of the
# document), so each micro-batch reads its documents' text exactly once,
# reduces them to a bounded |langs|-row partial census (map-side
# combine inside the batch), and appends ONLY those partials — tagged
# with the epoch id — to the store; no per-doc row ever leaves the
# batch. At drain the store holds (#epochs × |langs|) rows; the global
# census is their sum and the allocation tail is _temperature_alloc
# VERBATIM (same expressions, same oracle as t_lang_temperature_mix).
# Restart leg: incarnation 1 drains two staged files, the third appears
# only after the handoff and is picked up from the checkpoint. Replay
# safety: a committed epoch re-delivers the same batch content, its
# partial census rows are deterministic, and the read-time distinct()
# over (lang, n_docs, epoch) collapses identical re-appends exactly.
# 100 TB shape: per-batch work is one map-side-combined census of the
# batch; state is |langs| rows per epoch (not per doc); the drain
# exchange moves epoch-partials, never documents.
# ---------------------------------------------------------------------------
def t_stream_lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-tmix-gate-")
    third = (
        md5_long(F.concat(F.lit("tmixsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(
        workdir, [docs.filter(third == i) for i in range(3)], held=1
    )

    store_dir = f"{workdir}/langcensus"

    best = _best_lang(
        [stopword_count(F.col("text"), lg).cast("long") for lg in _LANGS]
    )

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(best.alias("lang"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .withColumn("epoch", F.lit(epoch_id).cast("long"))
            .write.mode("append")
            .parquet(store_dir)
        )

    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_temperature_mix (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "t_stream_lang_temperature_mix (3 files)")

    store = spark.read.parquet(store_dir).distinct()
    census = store.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs")
    )
    return _temperature_alloc(census)


QUERIES["t_stream_lang_temperature_mix"] = t_stream_lang_temperature_mix
ORACLES["t_stream_lang_temperature_mix"] = ORACLES["t_lang_temperature_mix"]


# ---------------------------------------------------------------------------
# TRAIN-split mixture manifest (round 14): the artifact a multilingual
# training run actually consumes — the temperature allocation computed
# over the TRAIN SPLIT's language census (never the whole corpus: val/
# test docs must not influence sampling weights), with each language's
# train token mass alongside so the sampler can convert allocation
# shares into token budgets. Composes three certified operators
# verbatim: the stopword-argmax language identifier (t_lang_id), the
# BPE-ish regex pre-tokenizer census (t_bpe_token_count), and the
# deterministic stratified split (operators/split.py, the corpus-
# pipeline convention: md5(doc_id) stratified by source) — then the
# α = 1/2 allocation tail (_temperature_alloc) over the train census,
# extra token-mass column riding through. Output bounded by |langs|.
# 100 TB shape: one per-doc join tree (doc_id-keyed) feeding ONE
# map-side-combined (lang)-census of the train split; the allocation
# math runs on the |langs|-row table + one broadcast 1-row total; the
# split predicate is a per-row hash, no exchange.
# ---------------------------------------------------------------------------
def _train_mix_manifest_oracle() -> str:
    from ..operators.split import split_case_sql

    split_case = split_case_sql("d.doc_id", _SPLIT_FRACTIONS, "d.source")
    return f"""
    WITH lang AS ({{LANG_ORACLE}}),
    cnt AS ({{CNT_ORACLE}}),
    base AS (
      SELECT d.doc_id, l.predicted_lang AS lang, c.n_bpe_tokens,
             {split_case} AS split
      FROM documents d JOIN lang l ON l.doc_id = d.doc_id
           JOIN cnt c ON c.doc_id = d.doc_id
    ),
    census AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_bpe_tokens) AS BIGINT) AS token_mass_train
      FROM base WHERE split = 'train' GROUP BY 1
    ),
    w AS (
      SELECT lang, n_docs, token_mass_train,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)
               AS temp_weight_milli
      FROM census
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(temp_weight_milli) AS BIGINT) AS total_w
      FROM w
    )
    SELECT w.lang, w.n_docs, w.token_mass_train,
           (w.n_docs * 1000000) // tot.total_docs AS natural_micro,
           w.temp_weight_milli,
           (w.temp_weight_milli * 1000000) // tot.total_w AS alloc_micro,
           CASE WHEN (w.n_docs * 1000000) // tot.total_docs > 0
                THEN ((w.temp_weight_milli * 1000000) // tot.total_w) * 1000
                     // ((w.n_docs * 1000000) // tot.total_docs)
           END AS boost_milli
    FROM w CROSS JOIN tot
    """


@query("t_train_mix_manifest", _train_mix_manifest_oracle())
def t_train_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import assign_split

    lang = t_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    cnt = t_bpe_token_count(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", "source"
    )
    base = assign_split(
        docs.join(lang, "doc_id").join(cnt, "doc_id"),
        key="doc_id",
        fractions=_SPLIT_FRACTIONS,
        stratum="source",
    )
    census = (
        base.filter(F.col("split") == "train")
        .groupBy(F.col("predicted_lang").alias("lang"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bpe_tokens").cast("long").alias("token_mass_train"),
        )
    )
    return _temperature_alloc(census)


ORACLES["t_train_mix_manifest"] = ORACLES["t_train_mix_manifest"].replace(
    "{LANG_ORACLE}", ORACLES["t_lang_id"]
).replace("{CNT_ORACLE}", ORACLES["t_bpe_token_count"])
