"""Sketch-operator query suite over ``documents`` (oracle-checked).

Three classic engine sketches, each deterministic and integer-exact so the
DuckDB oracle replays them value-for-value (see ``operators/sketches.py``
for the portability + scale rationale):

- ``t_hll_distinct``: HyperLogLog register build + raw harmonic estimate of
  distinct tokens per language, next to the exact count it approximates.
  At 100 TB the register table (m rows per group) is what you'd persist,
  merge across partitions, or accumulate in a stream — the exact
  COUNT(DISTINCT) here is the audit column, not the scale path.
- ``t_cms_heavy_hitters``: Count-Min sketch (d=4, w=256) of token
  frequencies + point estimates for the top-20 tokens, overcount shown
  against exact counts. The sketch is a fixed d·w grid whatever the corpus
  size; estimates broadcast that grid.
- ``t_bloom_prune_join``: a 1008-bit Bloom filter (16 longs via bit_or
  aggregation) built over a deterministic "quarantine" subset's content,
  probed by every document — the declarative runtime-filter pattern:
  16 longs broadcast instead of a shuffle-wide semi-join, false positives
  quantified against the exact join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..operators.sketches import (
    BLOOM_K,
    CMS_D,
    HLL_EMPTY_TERM,
    HLL_EST_NUM,
    HLL_M,
    bloom_mask,
    bloom_mask_sql,
    bloom_pos,
    bloom_pos_sql,
    bloom_word,
    bloom_word_sql,
    cms_pos,
    cms_pos_sql,
    hll_bucket,
    hll_bucket_sql,
    hll_final_cols,
    hll_final_sql,
    hll_register_term,
    hll_register_term_sql,
    hll_rho,
    hll_rho_sql,
)
from ..operators.text import TOKENS_SQL, tokens
from ..streaming.pipeline import drain_to_memory
from .helpers import gate_workdir, read, registrar, spread, staged_stream

QUERIES = {}
ORACLES = {}
query = registrar(QUERIES, ORACLES)


_TOKS_SQL = TOKENS_SQL.format(c="text")
# one finalization, four surfaces: each use site passes its occ/used
# expressions as REAL hll_final_sql parameters (textual placeholder
# surgery would silently corrupt the SQL if a generated identifier ever
# contained the placeholder substring)
_OCC_AGG = f'CAST(SUM({hll_register_term_sql("m_rho")}) AS BIGINT)'
_HLL_FINAL_BATCH = hll_final_sql("a.occ_sum", "a.used_buckets")
_HLL_FINAL_STREAM = hll_final_sql(_OCC_AGG, "COUNT(*)")


# ---------------------------------------------------------------------------
# HyperLogLog distinct-token estimate per language
# ---------------------------------------------------------------------------
@query(
    "t_hll_distinct",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), hashed AS (
      SELECT lang, tok, {md5_long_sql("tok")} AS h FROM toks
    ), regs AS (
      SELECT lang, {hll_bucket_sql("h")} AS bucket,
             MAX({hll_rho_sql("h")}) AS m_rho
      FROM hashed GROUP BY 1, 2
    ), agg AS (
      SELECT lang, COUNT(*) AS used_buckets,
             CAST(SUM({hll_register_term_sql("m_rho")}) AS BIGINT) AS occ_sum
      FROM regs GROUP BY lang
    ), ex AS (
      SELECT lang, COUNT(DISTINCT tok) AS exact_distinct FROM toks GROUP BY lang
    )
    SELECT a.lang, a.used_buckets,
           {_HLL_FINAL_BATCH[0]} AS denom_q,
           {_HLL_FINAL_BATCH[1]} AS hll_estimate,
           ex.exact_distinct
    FROM agg a JOIN ex USING (lang)
    """,
)
def t_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    hashed = toks.withColumn("h", md5_long(F.col("tok")))
    # ONE shuffle on (lang, bucket): max(rho) partial-aggregates to ≤ m rows
    # per group per partition before the exchange — the mergeable-register
    # property that makes HLL the scale path for distinct counts.
    regs = hashed.groupBy(
        "lang", hll_bucket(F.col("h")).alias("bucket")
    ).agg(F.max(hll_rho(F.col("h"))).alias("m_rho"))
    agg = regs.groupBy("lang").agg(
        F.count("*").alias("used_buckets"),
        F.sum(hll_register_term(F.col("m_rho"))).alias("occ_sum"),
    )
    # exact distinct is the AUDIT column (its (lang, tok) shuffle is the
    # thing HLL exists to avoid at scale)
    exact = toks.groupBy("lang").agg(F.count_distinct("tok").alias("exact_distinct"))
    return (
        agg.join(F.broadcast(exact), "lang")
        .select(
            "lang",
            "used_buckets",
            *hll_final_cols(F.col("occ_sum"), F.col("used_buckets")),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Count-Min heavy hitters: top-20 tokens, estimate vs exact
# ---------------------------------------------------------------------------
def _cms_cells_sql(src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {r} AS hrow, {cms_pos_sql('tok', r)} AS pos FROM {src}"
        for r in range(CMS_D)
    )


def _cms_probe_sql(src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT tok, exact_n, {r} AS hrow, {cms_pos_sql('tok', r)} AS pos FROM {src}"
        for r in range(CMS_D)
    )


@query(
    "t_cms_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), cells AS (
      {_cms_cells_sql("toks")}
    ), sketch AS (
      SELECT hrow, pos, COUNT(*) AS n FROM cells GROUP BY hrow, pos
    ), exact AS (
      SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
    ), cand AS (
      SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20
    ), probes AS (
      {_cms_probe_sql("cand")}
    )
    SELECT p.tok, p.exact_n, MIN(s.n) AS cms_n,
           MIN(s.n) - p.exact_n AS overcount
    FROM probes p JOIN sketch s USING (hrow, pos)
    GROUP BY p.tok, p.exact_n
    """,
)
def t_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    pos_arr = F.array(*[cms_pos(F.col("tok"), r) for r in range(CMS_D)])
    # fixed d×w grid: partial aggregation bounds the shuffle at d·w rows per
    # partition no matter how many tokens stream through
    sketch = (
        toks.select(F.posexplode(pos_arr).alias("hrow", "pos"))
        .groupBy("hrow", "pos")
        .agg(F.count("*").alias("n"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    # TakeOrderedAndProject, not a global-window rank
    cand = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    probes = cand.select(
        "tok", "exact_n", F.posexplode(pos_arr).alias("hrow", "pos")
    )
    return (
        probes.join(F.broadcast(sketch), ["hrow", "pos"])
        .groupBy("tok", "exact_n")
        .agg(F.min("n").alias("cms_n"))
        .select(
            "tok",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning: 16-long filter over a quarantine set's content
# ---------------------------------------------------------------------------
_QUARANTINE_SQL = (
    f"({md5_long_sql(chr(39) + 'bloomset:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} % 37 = 0)"
)


def _bloom_positions_sql(src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {bloom_pos_sql('text', k)} AS pos FROM {src}" for k in range(BLOOM_K)
    )


@query(
    "t_bloom_prune_join",
    f"""
    WITH build AS (
      SELECT text FROM documents WHERE {_QUARANTINE_SQL}
    ), positions AS (
      {_bloom_positions_sql("build")}
    ), bitmap AS (
      SELECT {bloom_word_sql("pos")} AS word,
             bit_or({bloom_mask_sql("pos")}) AS bits
      FROM positions GROUP BY 1
    ), build_texts AS (
      SELECT DISTINCT text FROM build
    ), probe AS (
      SELECT d.lang, d.text,
             {", ".join(
                f"{bloom_word_sql(bloom_pos_sql('d.text', k))} AS w{k}, "
                f"{bloom_mask_sql(bloom_pos_sql('d.text', k))} AS m{k}"
                for k in range(BLOOM_K))}
      FROM documents d
    ), flagged AS (
      SELECT p.lang,
             ({" AND ".join(f"COALESCE(b{k}.bits & p.m{k}, 0) <> 0" for k in range(BLOOM_K))})
               AS bloom_hit,
             (bt.text IS NOT NULL) AS true_hit
      FROM probe p
      {" ".join(f"LEFT JOIN bitmap b{k} ON b{k}.word = p.w{k}" for k in range(BLOOM_K))}
      LEFT JOIN build_texts bt ON bt.text = p.text
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hit,
           CAST(SUM(CASE WHEN bloom_hit AND NOT true_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos
    FROM flagged GROUP BY lang
    """,
)
def t_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read(spark, sf_dir, "documents"), spark)
    quarantine = md5_long(
        F.concat(F.lit("bloomset:"), F.col("doc_id").cast("string"))
    ) % 37 == F.lit(0)
    build = docs.filter(quarantine).select("text")
    positions = build.select(
        F.explode(F.array(*[bloom_pos(F.col("text"), k) for k in range(BLOOM_K)])).alias(
            "pos"
        )
    )
    # the whole filter is ≤ 16 (word, bits) rows — THIS is what ships to
    # every executor at scale, instead of shuffling the probe side
    bitmap = positions.groupBy(bloom_word(F.col("pos")).alias("word")).agg(
        F.bit_or(bloom_mask(F.col("pos"))).alias("bits")
    )
    build_texts = build.distinct().withColumn("true_hit", F.lit(True))

    probe = docs.select(
        "lang",
        "text",
        *[
            c
            for k in range(BLOOM_K)
            for c in (
                bloom_word(bloom_pos(F.col("text"), k)).alias(f"w{k}"),
                bloom_mask(bloom_pos(F.col("text"), k)).alias(f"m{k}"),
            )
        ],
    )
    for k in range(BLOOM_K):
        bm = bitmap.withColumnRenamed("word", f"word{k}").withColumnRenamed(
            "bits", f"bits{k}"
        )
        probe = probe.join(
            F.broadcast(bm), probe[f"w{k}"] == bm[f"word{k}"], "left"
        )
    bloom_hit = None
    for k in range(BLOOM_K):
        hit_k = F.coalesce(F.col(f"bits{k}").bitwiseAND(F.col(f"m{k}")), F.lit(0)) != 0
        bloom_hit = hit_k if bloom_hit is None else (bloom_hit & hit_k)
    flagged = (
        probe.join(F.broadcast(build_texts), "text", "left")
        .select(
            "lang",
            bloom_hit.alias("bloom_hit"),
            F.coalesce(F.col("true_hit"), F.lit(False)).alias("true_hit"),
        )
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).cast("long").alias("n_bloom_pass"),
        F.sum(F.when(F.col("true_hit"), 1).otherwise(0)).cast("long").alias("n_true_hit"),
        F.sum(F.when(F.col("bloom_hit") & ~F.col("true_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# STREAMING HLL accumulation under the hard gate: the documents corpus
# replays as a 2-file stream and the register table builds as a streaming
# complete-mode aggregation — groupBy(lang, bucket).max(rho) is exactly the
# merge operation HLL registers are designed for (max is associative and
# commutative), so accumulating them micro-batch by micro-batch MUST land
# on the byte-identical register state a single batch pass produces. The
# final estimate therefore hash-matches the batch oracle — the streaming
# twin of t_hll_distinct, and the property that lets a 1000-executor
# stream maintain a live distinct-count: bounded state (m registers per
# group), no per-item memory, any arrival order.
# ---------------------------------------------------------------------------
@query(
    "w_stream_hll_merge",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), hashed AS (
      SELECT lang, {md5_long_sql("tok")} AS h FROM toks
    ), regs AS (
      SELECT lang, {hll_bucket_sql("h")} AS bucket,
             MAX({hll_rho_sql("h")}) AS m_rho
      FROM hashed GROUP BY 1, 2
    )
    SELECT lang, COUNT(*) AS used_buckets,
           {_HLL_FINAL_STREAM[0]} AS denom_q,
           {_HLL_FINAL_STREAM[1]} AS hll_estimate
    FROM regs GROUP BY lang
    """,
)
def w_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    workdir = gate_workdir("stream-hll-gate-")
    # two micro-batches split by doc hash — every register must merge
    # across the batch boundary, not within one batch
    half = md5_long(F.concat(F.lit("hllsplit:"), F.col("doc_id").cast("string"))) % 2
    stream = (
        staged_stream(workdir, [docs.filter(half == 0), docs.filter(half == 1)])
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .withColumn("h", md5_long(F.col("tok")))
        .groupBy("lang", hll_bucket(F.col("h")).alias("bucket"))
        .agg(F.max(hll_rho(F.col("h"))).alias("m_rho"))
    )
    regs = drain_to_memory(stream, "complete", f"{workdir}/ckpt", "w_stream_hll_merge")
    agg = regs.groupBy("lang").agg(
        F.count("*").alias("used_buckets"),
        F.sum(hll_register_term(F.col("m_rho"))).alias("occ_sum"),
    )
    return agg.select(
        "lang",
        "used_buckets",
        *hll_final_cols(F.col("occ_sum"), F.col("used_buckets")),
    )


# ---------------------------------------------------------------------------
# STREAMING Count-Min accumulation under the hard gate: the d×w counter grid
# maintained by a complete-mode streaming aggregation across two
# micro-batches (docs split by hash, so every counter merges across the
# batch boundary) must equal the single-pass batch sketch COUNTER FOR
# COUNTER — counts are associative/commutative, the merge property that
# lets a 1000-executor stream maintain live heavy-hitter estimates with
# d·w bounded state and any arrival order. Candidate probing and the exact
# audit run batch-side on the same corpus; the output (and oracle) is
# exactly t_cms_heavy_hitters', so the gate hash certifies the streamed
# grid bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "w_stream_cms_merge",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), cells AS (
      {_cms_cells_sql("toks")}
    ), sketch AS (
      SELECT hrow, pos, COUNT(*) AS n FROM cells GROUP BY hrow, pos
    ), exact AS (
      SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
    ), cand AS (
      SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20
    ), probes AS (
      {_cms_probe_sql("cand")}
    )
    SELECT p.tok, p.exact_n, MIN(s.n) AS cms_n,
           MIN(s.n) - p.exact_n AS overcount
    FROM probes p JOIN sketch s USING (hrow, pos)
    GROUP BY p.tok, p.exact_n
    """,
)
def w_stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = gate_workdir("stream-cms-gate-")
    half = md5_long(F.concat(F.lit("cmssplit:"), F.col("doc_id").cast("string"))) % 2
    pos_arr = F.array(*[cms_pos(F.col("tok"), r) for r in range(CMS_D)])
    stream = (
        staged_stream(workdir, [docs.filter(half == 0), docs.filter(half == 1)])
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .select(F.posexplode(pos_arr).alias("hrow", "pos"))
        .groupBy("hrow", "pos")
        .agg(F.count("*").alias("n"))
    )
    sketch = drain_to_memory(
        stream, "complete", f"{workdir}/ckpt", "w_stream_cms_merge"
    )

    toks = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    cand = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    probes = cand.select(
        "tok", "exact_n", F.posexplode(pos_arr).alias("hrow", "pos")
    )
    return (
        probes.join(F.broadcast(sketch), ["hrow", "pos"])
        .groupBy("tok", "exact_n")
        .agg(F.min("n").alias("cms_n"))
        .select(
            "tok",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra across language pairs: union by register-wise max — the
# EXACT merge a 1000-executor rollup performs on persisted sketches — and
# intersection by inclusion–exclusion over the three estimates. The union
# sketch never touches the raw tokens again: it merges the per-language
# register tables (≤ m rows each). Exact union/intersection counts ride
# along as audit columns (their (lang, tok)-wide shuffles are what the
# sketch path avoids at scale).
# ---------------------------------------------------------------------------
_EST_A = hll_final_sql("pa.occ", "pa.used")[1]
_EST_B = hll_final_sql("pb.occ", "pb.used")[1]
_EST_U = hll_final_sql("u.occ_union", "u.used_union")[1]


@query(
    "t_hll_set_ops",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), hashed AS (
      SELECT lang, tok, {md5_long_sql("tok")} AS h FROM toks
    ), regs AS (
      SELECT lang, {hll_bucket_sql("h")} AS bucket,
             MAX({hll_rho_sql("h")}) AS m_rho
      FROM hashed GROUP BY 1, 2
    ), per AS (
      SELECT lang, COUNT(*) AS used,
             CAST(SUM({hll_register_term_sql("m_rho")}) AS BIGINT) AS occ
      FROM regs GROUP BY lang
    ), langs AS (
      SELECT DISTINCT lang FROM regs
    ), pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM langs a JOIN langs b ON a.lang < b.lang
    ), merged AS (
      SELECT lang_a, lang_b, bucket, MAX(m_rho) AS m_rho FROM (
        SELECT p.lang_a, p.lang_b, r.bucket, r.m_rho
        FROM pairs p JOIN regs r ON r.lang = p.lang_a
        UNION ALL
        SELECT p.lang_a, p.lang_b, r.bucket, r.m_rho
        FROM pairs p JOIN regs r ON r.lang = p.lang_b
      ) GROUP BY 1, 2, 3
    ), uagg AS (
      SELECT lang_a, lang_b, COUNT(*) AS used_union,
             CAST(SUM({hll_register_term_sql("m_rho")}) AS BIGINT) AS occ_union
      FROM merged GROUP BY 1, 2
    ), dl AS (
      SELECT DISTINCT lang, tok FROM toks
    ), eu AS (
      SELECT lang_a, lang_b, COUNT(DISTINCT tok) AS exact_union FROM (
        SELECT p.lang_a, p.lang_b, d.tok
        FROM pairs p JOIN dl d ON d.lang = p.lang_a
        UNION
        SELECT p.lang_a, p.lang_b, d.tok
        FROM pairs p JOIN dl d ON d.lang = p.lang_b
      ) GROUP BY 1, 2
    ), ei AS (
      SELECT x.pl_a AS lang_a, x.pl_b AS lang_b, COUNT(*) AS exact_intersection
      FROM (SELECT p.lang_a AS pl_a, p.lang_b AS pl_b, d.tok
            FROM pairs p JOIN dl d ON d.lang = p.lang_a) x
      JOIN dl y ON y.lang = x.pl_b AND y.tok = x.tok
      GROUP BY 1, 2
    )
    SELECT u.lang_a, u.lang_b,
           pa.used AS used_a, pb.used AS used_b, u.used_union,
           {_EST_A} AS est_a, {_EST_B} AS est_b, {_EST_U} AS est_union,
           {_EST_A} + {_EST_B} - {_EST_U} AS est_intersection,
           eu.exact_union,
           COALESCE(ei.exact_intersection, 0) AS exact_intersection
    FROM uagg u
    JOIN per pa ON pa.lang = u.lang_a
    JOIN per pb ON pb.lang = u.lang_b
    JOIN eu ON eu.lang_a = u.lang_a AND eu.lang_b = u.lang_b
    LEFT JOIN ei ON ei.lang_a = u.lang_a AND ei.lang_b = u.lang_b
    """,
)
def t_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        spread(read(spark, sf_dir, "documents"), spark)
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    hashed = toks.withColumn("h", md5_long(F.col("tok")))
    regs = hashed.groupBy(
        "lang", hll_bucket(F.col("h")).alias("bucket")
    ).agg(F.max(hll_rho(F.col("h"))).alias("m_rho"))
    per = regs.groupBy("lang").agg(
        F.count("*").alias("used"),
        F.sum(hll_register_term(F.col("m_rho"))).alias("occ"),
    )
    langs = regs.select("lang").distinct()
    pairs = (
        langs.select(F.col("lang").alias("lang_a"))
        .crossJoin(langs.select(F.col("lang").alias("lang_b")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    # sketch MERGE: register-wise max of the two languages' register tables
    ra = F.broadcast(pairs).join(
        regs.withColumnRenamed("lang", "lang_a"), "lang_a"
    )
    rb = F.broadcast(pairs).join(
        regs.withColumnRenamed("lang", "lang_b"), "lang_b"
    )
    merged = (
        ra.select("lang_a", "lang_b", "bucket", "m_rho")
        .unionByName(rb.select("lang_a", "lang_b", "bucket", "m_rho"))
        .groupBy("lang_a", "lang_b", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    uagg = merged.groupBy("lang_a", "lang_b").agg(
        F.count("*").alias("used_union"),
        F.sum(hll_register_term(F.col("m_rho"))).alias("occ_union"),
    )
    # audit columns (exact set algebra — the shuffles the sketch avoids)
    dl = toks.distinct()
    da = F.broadcast(pairs).join(dl.withColumnRenamed("lang", "lang_a"), "lang_a")
    db = F.broadcast(pairs).join(dl.withColumnRenamed("lang", "lang_b"), "lang_b")
    eu = (
        da.select("lang_a", "lang_b", "tok")
        .unionByName(db.select("lang_a", "lang_b", "tok"))
        .distinct()
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").alias("exact_union"))
    )
    # join the DISTINCT (lang, tok) relation (unique keys), not db — db has
    # one row per (lang_a, lang_b, tok), which would multiply matches
    ei = (
        da.select("lang_a", "lang_b", "tok")
        .join(dl.withColumnRenamed("lang", "lang_b"), ["lang_b", "tok"])
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").alias("exact_intersection"))
    )

    def final(occ, used, name):
        return hll_final_cols(F.col(occ), F.col(used))[1].alias(name)

    out = (
        uagg.join(
            F.broadcast(per.select(
                F.col("lang").alias("lang_a"),
                F.col("used").alias("used_a"),
                F.col("occ").alias("occ_a"),
            )),
            "lang_a",
        )
        .join(
            F.broadcast(per.select(
                F.col("lang").alias("lang_b"),
                F.col("used").alias("used_b"),
                F.col("occ").alias("occ_b"),
            )),
            "lang_b",
        )
        .join(F.broadcast(eu), ["lang_a", "lang_b"])
        .join(F.broadcast(ei), ["lang_a", "lang_b"], "left")
    )
    est_a = final("occ_a", "used_a", "est_a")
    est_b = final("occ_b", "used_b", "est_b")
    est_u = final("occ_union", "used_union", "est_union")
    return out.select(
        "lang_a",
        "lang_b",
        "used_a",
        "used_b",
        "used_union",
        est_a,
        est_b,
        est_u,
        (
            hll_final_cols(F.col("occ_a"), F.col("used_a"))[1]
            + hll_final_cols(F.col("occ_b"), F.col("used_b"))[1]
            - hll_final_cols(F.col("occ_union"), F.col("used_union"))[1]
        ).alias("est_intersection"),
        "exact_union",
        F.coalesce(F.col("exact_intersection"), F.lit(0)).alias(
            "exact_intersection"
        ),
    )


# ---------------------------------------------------------------------------
# HLL ROLLUP: distinct-user estimates at three grouping levels — (day,
# event_type), (day), and grand total — where the two coarser levels are
# register-wise max-merges OF THE FINER REGISTER TABLE, never a second
# scan of events. This is the re-aggregation property that makes sketches
# the 1000-executor rollup path: a day's registers summarize ~m rows per
# group no matter how many events the day held, and every coarser level
# costs only a groupBy over register rows. The exact distinct per level
# rides along as the audit column (its per-level (key, user) shuffles are
# precisely the cost the register chain avoids at scale).
# ---------------------------------------------------------------------------
_ROLLUP_ALL = "ALL"


def _hll_rollup_oracle() -> str:
    day = "strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')"
    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    fin = hll_final_sql("a.occ_sum", "a.used_buckets")
    lvl = []
    for name, keys, grp in (
        ("l2", f"{day} AS day, event_type", "1, 2"),
        ("l1", f"{day} AS day, 'ALL' AS event_type", "1, 2"),
        ("l0", "'ALL' AS day, 'ALL' AS event_type", "1, 2"),
    ):
        lvl.append(f"""
    regs_{name} AS (
      SELECT {keys}, {hll_bucket_sql("h")} AS bucket,
             MAX({hll_rho_sql("h")}) AS m_rho
      FROM hashed GROUP BY {grp}, 3
    ),
    agg_{name} AS (
      SELECT day, event_type, COUNT(*) AS used_buckets,
             CAST(SUM({hll_register_term_sql("m_rho")}) AS BIGINT) AS occ_sum
      FROM regs_{name} GROUP BY 1, 2
    ),
    ex_{name} AS (
      SELECT {keys}, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY {grp}
    )""")
    levels = ",".join(lvl)
    sel = " UNION ALL ".join(
        f"""SELECT a.day, a.event_type, a.used_buckets,
               {fin[0]} AS denom_q, {fin[1]} AS hll_estimate,
               e.exact_distinct
        FROM agg_{n} a JOIN ex_{n} e ON a.day = e.day
                                    AND a.event_type = e.event_type"""
        for n in ("l2", "l1", "l0")
    )
    return f"""
    WITH hashed AS (
      SELECT ts, event_type, user_id, {h} AS h FROM events
    ),{levels}
    {sel}
    """


@query("w_hll_rollup", _hll_rollup_oracle())
def w_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import read as read_events

    ev = read_events(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "user_id",
        md5_long(F.col("user_id").cast("string")).alias("h"),
    )
    # ONE events shuffle builds the finest register table; every coarser
    # level is a register-wise max over the previous level's ≤ m rows per
    # group. The register tables are LAZY-persisted (tiny: ≤ m rows per
    # group) so each level's two consumers — its own finalization and the
    # next coarser merge — read the cache instead of re-deriving the
    # events scan: the sketch path touches events exactly once. (The
    # exact-distinct audit columns still scan events per level; they are
    # the certification cost the register chain exists to avoid at scale.)
    regs2 = (
        ev.groupBy("day", "event_type", hll_bucket(F.col("h")).alias("bucket"))
        .agg(F.max(hll_rho(F.col("h"))).alias("m_rho"))
        .persist()
    )
    regs1 = (
        regs2.groupBy("day", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
        .withColumn("event_type", F.lit(_ROLLUP_ALL))
        .persist()
    )
    regs0 = (
        regs1.groupBy("bucket")
        .agg(F.max("m_rho").alias("m_rho"))
        .withColumn("day", F.lit(_ROLLUP_ALL))
        .withColumn("event_type", F.lit(_ROLLUP_ALL))
    )

    def finalize(regs, exact):
        agg = regs.groupBy("day", "event_type").agg(
            F.count("*").alias("used_buckets"),
            F.sum(hll_register_term(F.col("m_rho"))).alias("occ_sum"),
        )
        return agg.join(F.broadcast(exact), ["day", "event_type"]).select(
            "day",
            "event_type",
            "used_buckets",
            *hll_final_cols(F.col("occ_sum"), F.col("used_buckets")),
            "exact_distinct",
        )

    ex2 = ev.groupBy("day", "event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    ex1 = (
        ev.groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
        .withColumn("event_type", F.lit(_ROLLUP_ALL))
    )
    ex0 = (
        ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
        .withColumn("day", F.lit(_ROLLUP_ALL))
        .withColumn("event_type", F.lit(_ROLLUP_ALL))
    )
    return (
        finalize(regs2, ex2)
        .unionByName(finalize(regs1, ex1))
        .unionByName(finalize(regs0, ex0))
    )
