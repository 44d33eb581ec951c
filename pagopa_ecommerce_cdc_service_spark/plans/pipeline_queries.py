"""End-to-end training-corpus pipeline — the composition a real
training-data user runs, certified as ONE gated query.

``t_corpus_pipeline`` chains the first-class operators:

1. exact dedup        — keep min doc_id per md5(text) (hash window, one
                         shuffle on the content hash);
2. near-dup clusters  — MinHash+LSH candidate pairs (same signature
                         constants as t_minhash_lsh_pairs) over the exact
                         survivors → connected components
                         (operators/graph.py) → keep one doc per cluster
                         (the component representative, min doc_id);
3. split assignment   — deterministic stratified train/val/test
                         (operators/split.py, pure hash of (source,
                         doc_id) — identical membership to t_split_stats
                         for surviving docs);
4. sequence packing   — the TRAIN split packs into capacity-512 token
                         bins across 8 shards (operators/packing.py).

Output: one row per surviving doc x bin segment — (doc_id, split, shard,
bin_idx, tok_start, tok_len); validation/test docs carry NULL segment
fields. The DuckDB oracle recomputes the whole chain (recursive CTE for
the components), so a hash match certifies that the operators COMPOSE,
not just that each works alone.

Scale shape: stages 1/3/4 are single-shuffle or shuffle-free; stage 2 is
the banded LSH join + iterative label propagation — each documented at
its operator. Nothing here adds a join or shuffle beyond the operators
themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import (
    band_key,
    band_key_sql,
    minhash_signature,
    minhash_signature_sql,
    shingle_hashes31,
    shingle_hashes31_sql,
    tokens,
    TOKENS_SQL,
)
from .helpers import read, spread
from .text_queries import _B, _K, _LSH_THRESH, _R, _SPLIT_FRACTIONS

QUERIES = {}
ORACLES = {}

_PACK_CAPACITY, _PACK_SHARDS = 512, 8


def _lsh_pair_ctes(table: str) -> str:
    """CTE fragments computing near-dup pairs (>= _LSH_THRESH jaccard) over
    ``table`` — same constants and helpers as t_minhash_lsh_pairs."""
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {band_key_sql('sig', b, _R)} AS bkey FROM sigs"
        for b in range(_B)
    )
    return f"""
    docs_sh AS (
      SELECT doc_id, {shingle_hashes31_sql("text")} AS sh FROM {table}
    ),
    sigs AS (
      SELECT doc_id, {minhash_signature_sql("sh", _K)} AS sig FROM docs_sh
    ),
    bands AS ({bands_union}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN docs_sh x ON c.doc_a = x.doc_id
                  JOIN docs_sh y ON c.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
            >= {_LSH_THRESH}
    )"""


def _corpus_pipeline_oracle() -> str:
    from ..operators.packing import pack_concat_offsets_sql
    from ..operators.split import split_case_sql

    split_case = split_case_sql("doc_id", _SPLIT_FRACTIONS, "source")
    pack_sql = pack_concat_offsets_sql(
        weight_expr="n_tokens",
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
        table="train",
    )
    return f"""
    WITH RECURSIVE
    exact_keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    surv1 AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN exact_keep k ON d.doc_id = k.doc_id
    ),
    {_lsh_pair_ctes("surv1")},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    surv2 AS (
      SELECT s.doc_id, s.source, s.text
      FROM surv1 s LEFT JOIN comp c ON s.doc_id = c.node
      WHERE c.component IS NULL OR c.component = s.doc_id
    ),
    assigned AS (
      SELECT doc_id, {split_case} AS split,
             len({TOKENS_SQL.format(c="text")}) AS n_tokens
      FROM surv2
    ),
    train AS (SELECT doc_id, n_tokens FROM assigned WHERE split = 'train'),
    pack AS ({pack_sql})
    SELECT a.doc_id, a.split, p.shard, p.bin_idx, p.tok_start, p.tok_len
    FROM assigned a LEFT JOIN pack p ON a.doc_id = p.doc_id
    """


def t_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from ..operators.packing import pack_concat_offsets
    from ..operators.split import assign_split

    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", "source", "text"
    )

    # 1. exact dedup: representative = min doc_id per content hash
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    surv1 = (
        docs.withColumn("_keeper", keeper)
        .filter(F.col("doc_id") == F.col("_keeper"))
        .drop("_keeper")
    )

    # 2. near-dup pairs over the survivors (narrow-key band join, same
    # shape/constants as t_minhash_lsh_pairs) → components → one per cluster
    sh_docs = surv1.select("doc_id", shingle_hashes31(F.col("text")).alias("sh"))
    sigs = sh_docs.select(
        "doc_id", minhash_signature(F.col("sh"), _K).alias("sig")
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(F.col("sig"), bi, _R) for bi in range(_B)])
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
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh_docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh_docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    pairs = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(jac >= _LSH_THRESH)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    surv2 = (
        surv1.join(comp, surv1["doc_id"] == comp["node"], "left")
        .filter(F.col("component").isNull() | (F.col("doc_id") == F.col("component")))
        .select("doc_id", "source", "text")
    )

    # 3. deterministic stratified split + token weights
    assigned = assign_split(
        surv2, key="doc_id", fractions=_SPLIT_FRACTIONS, stratum="source"
    ).select(
        "doc_id", "split", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )

    # 4. pack the train split into capacity bins
    train = assigned.filter(F.col("split") == "train")
    pack = pack_concat_offsets(
        train, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    ).withColumnRenamed("doc_id", "p_doc_id")

    return (
        assigned.join(pack, assigned["doc_id"] == pack["p_doc_id"], "left")
        .select("doc_id", "split", "shard", "bin_idx", "tok_start", "tok_len")
    )


QUERIES["t_corpus_pipeline"] = t_corpus_pipeline
ORACLES["t_corpus_pipeline"] = _corpus_pipeline_oracle()


# ---------------------------------------------------------------------------
# SUB-DOCUMENT curation chain: chunk-dedup REWRITE → split → pack. Where
# t_corpus_pipeline dedups at document granularity, this variant feeds the
# REBUILT text (every non-first occurrence of a duplicated chunk removed —
# t_chunk_dedup_rewrite's artifact) through split assignment and sequence
# packing: the end-to-end shape of a pipeline that ships sub-document
# dedup. Token weights are computed over the rebuilt text, so duplicated
# mass vanishes from the packed bins, not just from a report. Scale shape:
# the rewrite's own stages (documented at the operator) + one narrow
# doc_id join to re-attach the split stratum + the pack's single shard-key
# window — nothing quadratic, nothing new shuffles text except the
# rewrite's documented doc⋈drops join.
# ---------------------------------------------------------------------------
def _corpus_pipeline_chunked_oracle() -> str:
    from ..operators.packing import pack_concat_offsets_sql
    from ..operators.split import split_case_sql
    from .text_queries import _chunk_rewrite_oracle

    split_case = split_case_sql("doc_id", _SPLIT_FRACTIONS, "source")
    pack_sql = pack_concat_offsets_sql(
        weight_expr="n_tokens",
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
        table="train",
    )
    return f"""
    WITH rw AS ({_chunk_rewrite_oracle()}),
    joined AS (
      SELECT r.doc_id, d.source, r.rebuilt_text
      FROM rw r JOIN documents d ON r.doc_id = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, {split_case} AS split,
             len({TOKENS_SQL.format(c="rebuilt_text")}) AS n_tokens
      FROM joined
    ),
    train AS (SELECT doc_id, n_tokens FROM assigned WHERE split = 'train'),
    pack AS ({pack_sql})
    SELECT a.doc_id, a.split, p.shard, p.bin_idx, p.tok_start, p.tok_len
    FROM assigned a LEFT JOIN pack p ON a.doc_id = p.doc_id
    """


def t_corpus_pipeline_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_concat_offsets
    from ..operators.split import assign_split
    from .text_queries import _chunk_rewrite

    docs = spread(read(spark, sf_dir, "documents"), spark)
    rw = _chunk_rewrite(docs.select("doc_id", "text"))
    rebuilt = rw.select("doc_id", "rebuilt_text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    # lazy persist (the t_kcore_peel discipline): assigned is read three
    # times (train filter, the pack window, the final left join) — without
    # the pin the whole rewrite subtree executes three times (measured
    # 12.8 s → 3.5 s warm floor at sf0.1). One narrow row per doc; at scale
    # this is the materialization boundary a real pipeline writes to disk.
    assigned = assign_split(
        rebuilt, key="doc_id", fractions=_SPLIT_FRACTIONS, stratum="source"
    ).select(
        "doc_id",
        "split",
        F.size(tokens(F.col("rebuilt_text"))).cast("long").alias("n_tokens"),
    ).persist()
    train = assigned.filter(F.col("split") == "train")
    pack = pack_concat_offsets(
        train, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    ).withColumnRenamed("doc_id", "p_doc_id")
    return assigned.join(
        pack, assigned["doc_id"] == pack["p_doc_id"], "left"
    ).select("doc_id", "split", "shard", "bin_idx", "tok_start", "tok_len")


QUERIES["t_corpus_pipeline_chunked"] = t_corpus_pipeline_chunked
ORACLES["t_corpus_pipeline_chunked"] = _corpus_pipeline_chunked_oracle()


# ---------------------------------------------------------------------------
# schema-evolution read under the hard gate: a table whose later files
# carry MORE columns than its early files (the standard lakehouse
# evolution — new telemetry lands, history stays), read back with
# mergeSchema so old files surface the new columns as NULL. The gate
# certifies the real staged read: generation 1 holds (doc_id, text,
# n_chars), generation 2 adds (lang, source); the aggregation groups by
# the EVOLVED column, so a reader that dropped or misaligned old-file
# nulls cannot hash-match. The oracle never touches files — it derives
# the expected null pattern from the registered table by the same parity
# rule. 100 TB note: mergeSchema's footer-merge cost is why production
# tables pin the merged schema in a catalog; the null-fill semantics
# certified here are identical either way.
# ---------------------------------------------------------------------------
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .helpers import gate_workdir

    docs = read(spark, sf_dir, "documents")
    workdir = gate_workdir("schema-evo-gate-")
    tbl = f"{workdir}/docs"
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "n_chars"
    ).write.mode("overwrite").parquet(tbl)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "n_chars", "lang", "source"
    ).write.mode("append").parquet(tbl)
    merged = spark.read.option("mergeSchema", "true").parquet(tbl)
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


QUERIES["q_schema_evolution_merge"] = q_schema_evolution_merge
ORACLES["q_schema_evolution_merge"] = """
SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Record linkage (entity resolution): the blocked Fellegi-Sunter shape a
# data-cleaning pipeline runs before any entity-keyed join — here across
# TWO registries (customer vs supplier, the classic two-source linkage).
# Candidates come from BLOCKING on nation — the standard way to avoid the
# all-pairs cross product: comparisons happen only inside blocks, and
# block size is what you tune at scale (add a blocking key to split a hot
# block; the join is a plain equi-join, so AQE's skew split applies too).
# Each candidate pair gets an integer agreement score over three field
# comparators (balance proximity, balance bucket, entity-id suffix) with
# fixed log-odds-style weights — balance arithmetic runs in DECIMAL
# (exact), the score is an exact BIGINT, and the ranking is fully
# deterministic via the (score, cust, supp) tie-break. The registries are
# synthetic distinct entities, so the VALUE of the query is the certified
# shape: blocking → agreement vector → weighted rank, byte-identical
# across engines.
# ---------------------------------------------------------------------------
_LINK_TOP = 50


def _scored_registry_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-blocked customer x supplier candidate pairs with the full
    three-comparator Fellegi-Sunter agreement score. ONE definition of the
    comparators (balance proximity < 50.00, floor(bal/500) bucket, id
    suffix mod 100) feeds BOTH t_record_linkage's ranking and the entity
    golden record's match threshold — a constant changed here changes both
    in lockstep."""
    cust = read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("c_bal"),
        (F.regexp_extract("c_name", r"(\d+)$", 1).cast("long") % 100).alias(
            "c_sfx"
        ),
    )
    supp = read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp"),
        F.col("s_nationkey").alias("nat"),
        F.col("s_acctbal").cast("decimal(12,2)").alias("s_bal"),
        (F.regexp_extract("s_name", r"(\d+)$", 1).cast("long") % 100).alias(
            "s_sfx"
        ),
    )
    pairs = cust.join(supp, "nat")
    bal_close = (
        F.abs(F.col("c_bal") - F.col("s_bal")) < F.lit("50.00").cast("decimal(12,2)")
    )
    bucket_eq = F.floor(F.col("c_bal") / F.lit(500.0)) == F.floor(
        F.col("s_bal") / F.lit(500.0)
    )
    score = (
        F.when(bal_close, F.lit(3)).otherwise(F.lit(-1))
        + F.when(bucket_eq, F.lit(2)).otherwise(F.lit(-1))
        + F.when(F.col("c_sfx") == F.col("s_sfx"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return pairs.select(
        "cust", "supp", "c_bal", "s_bal", score.alias("match_score")
    )


def t_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _scored_registry_pairs(spark, sf_dir)
        .select("cust", "supp", "match_score")
        .orderBy(F.desc("match_score"), "cust", "supp")
        .limit(_LINK_TOP)
    )


QUERIES["t_record_linkage"] = t_record_linkage
ORACLES["t_record_linkage"] = f"""
WITH c AS (
  SELECT c_custkey AS cust, c_nationkey AS nat,
         CAST(c_acctbal AS DECIMAL(12,2)) AS c_bal,
         CAST(regexp_extract(c_name, '(\\d+)$', 1) AS BIGINT) % 100 AS c_sfx
  FROM customer
),
s AS (
  SELECT s_suppkey AS supp, s_nationkey AS nat,
         CAST(s_acctbal AS DECIMAL(12,2)) AS s_bal,
         CAST(regexp_extract(s_name, '(\\d+)$', 1) AS BIGINT) % 100 AS s_sfx
  FROM supplier
)
SELECT cust, supp,
       CAST(CASE WHEN ABS(c_bal - s_bal) < CAST('50.00' AS DECIMAL(12,2))
                 THEN 3 ELSE -1 END
          + CASE WHEN FLOOR(c_bal / 500.0) = FLOOR(s_bal / 500.0)
                 THEN 2 ELSE -1 END
          + CASE WHEN c_sfx = s_sfx THEN 1 ELSE 0 END AS BIGINT)
         AS match_score
FROM c JOIN s USING (nat)
ORDER BY match_score DESC, cust, supp
LIMIT {_LINK_TOP}
"""


# ---------------------------------------------------------------------------
# Deterministic STRATIFIED QUOTA SAMPLING: keep an exact 20% quota
# (ceil(n/5)) of every (lang, source) stratum, selected by rank over the
# portable md5 hash of the doc id — the reproducible importance-sampling
# primitive a curation pipeline uses to rebalance domains (fixed quotas
# per stratum, no RNG state, identical output on any cluster layout).
# Plan: one hash exchange on the stratum key; the quota is a window count
# over the same partition (no second scan, no driver round-trip).
# 100 TB: strata are domain-bounded (thousands), each partition sorts
# only its own stratum; a hot stratum is one AQE skew split away.
# ---------------------------------------------------------------------------
from ..functions.hashing import md5_long, md5_long_sql  # noqa: E402


def stratified_quota_sample(docs: DataFrame, denominator: int = 5) -> DataFrame:
    """Keep an exact ceil(n/denominator) quota of every (lang, source)
    stratum, selected by rank over the portable md5 hash of doc_id —
    reproducible on any cluster layout, no RNG state. One exchange: the
    stratum count, the quota and the rank all window over the same key."""
    strat = Window.partitionBy("lang", "source")
    d = denominator
    ranked = docs.select(
        "doc_id",
        "lang",
        "source",
        F.count("*").over(strat).alias("stratum_size"),
        F.expr(
            f"(count(*) OVER (PARTITION BY lang, source) + {d - 1}) div {d}"
        ).alias("quota"),
        F.row_number()
        .over(strat.orderBy(md5_long(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rk"),
    )
    return ranked.filter(F.col("rk") <= F.col("quota"))


def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_quota_sample(spread(read(spark, sf_dir, "documents"), spark))


def t_stream_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of t_stratified_sample (dedup-on-ingest shape): two
    stream incarnations on ONE checkpoint — the third staged file lands
    only after the first incarnation drains — then the corpus-global
    quota adjudication at the final read. Per batch the work is O(batch)
    narrow appends (streaming/sampling.py); the quota law CANNOT be
    decided on ingest (a row outside today's quota enters it when its
    stratum grows — exercised here across the restart), so the verdict is
    deferred, like the winnowing twin's df cap. Must hash-match the batch
    oracle over the whole corpus."""
    from ..streaming.sampling import stream_stratified_quota
    from .helpers import gate_workdir, release_held, staged_stream

    docs = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    workdir = gate_workdir("stream-strat-gate-")
    third = (
        md5_long(F.concat(F.lit("stratsplit:"), F.col("doc_id").cast("string")))
        % 3
    )
    stream = staged_stream(workdir, [docs.filter(third == i) for i in range(3)], held=1)
    # incarnation 1 drains the two staged files and adjudicates
    stream_stratified_quota(stream, workdir)
    # the third file lands AFTER the handoff; incarnation 2 resumes the
    # same checkpoint, ingests only the new file, and re-adjudicates
    release_held(workdir)
    return stream_stratified_quota(stream, workdir)


QUERIES["t_stratified_sample"] = t_stratified_sample
ORACLES["t_stratified_sample"] = f"""
SELECT doc_id, lang, source, stratum_size, quota, rk
FROM (
  SELECT doc_id, lang, source,
         count(*) OVER (PARTITION BY lang, source) AS stratum_size,
         (count(*) OVER (PARTITION BY lang, source) + 4) // 5 AS quota,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= quota
"""

QUERIES["t_stream_stratified_sample"] = t_stream_stratified_sample
ORACLES["t_stream_stratified_sample"] = ORACLES["t_stratified_sample"]


# ---------------------------------------------------------------------------
# ENTITY GOLDEN RECORD: the step after record linkage — match pairs
# (agreement score >= 5, i.e. both balance comparators agree) form a
# bipartite graph over the two registries; transitive closure (connected
# components, operators/graph.py) merges chained matches into ENTITIES;
# each entity emits one canonical ("golden") record: member counts, the
# max balance (exact DECIMAL), and deterministic representative ids per
# registry. Node ids are namespaced (cust*2, supp*2+1) so the two
# registries cannot collide. RUNTIME query (iterative min-label CC with a
# convergence count per round) — pinned in the certification prefix, like
# t_dup_clusters. 100 TB: edges are blocking-bounded (same discipline as
# t_record_linkage); CC iterations shuffle only the edge list, with the
# label table localCheckpoint'd per round.
# ---------------------------------------------------------------------------
_MATCH_MIN_SCORE = 5


def _linkage_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-pair member rows (cust, supp, c_bal, s_bal): every scored
    registry pair clearing the match threshold. Shares the comparator
    definition with t_record_linkage via _scored_registry_pairs; score
    >= 5 holds iff BOTH balance comparators agree (3+2+sfx0/1), so the
    suffix comparator cannot flip membership."""
    return (
        _scored_registry_pairs(spark, sf_dir)
        .filter(F.col("match_score") >= _MATCH_MIN_SCORE)
        .select("cust", "supp", "c_bal", "s_bal")
    )


def golden_records(m: DataFrame) -> DataFrame:
    """Match pairs (cust, supp, c_bal, s_bal) → one canonical record per
    transitively-merged entity. Node ids are namespaced (cust*2, supp*2+1);
    entity id = min node in the component."""
    from ..operators.graph import connected_components

    edges = m.select(
        (F.col("cust") * 2).alias("src"), (F.col("supp") * 2 + 1).alias("dst")
    )
    comp = connected_components(edges, src="src", dst="dst")
    bal = (
        m.select((F.col("cust") * 2).alias("node"), F.col("c_bal").alias("bal"))
        .unionByName(
            m.select(
                (F.col("supp") * 2 + 1).alias("node"), F.col("s_bal").alias("bal")
            )
        )
        .distinct()
    )
    joined = comp.join(bal, "node").select(
        "component",
        (F.col("node") % 2).alias("is_supp"),
        F.expr("node div 2").alias("id"),
        "bal",
    )
    return joined.groupBy(F.col("component").alias("entity_id")).agg(
        F.sum(F.when(F.col("is_supp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_cust"),
        F.sum(F.when(F.col("is_supp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_supp"),
        # exact integer cents — DECIMAL round-trips to pandas as object
        # in Spark but float in DuckDB; BIGINT cents is kind-stable
        (F.max("bal") * 100).cast("long").alias("golden_bal_cents"),
        F.min(F.when(F.col("is_supp") == 0, F.col("id"))).alias("rep_cust"),
        F.min(F.when(F.col("is_supp") == 1, F.col("id"))).alias("rep_supp"),
    )


def t_entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    return golden_records(_linkage_members(spark, sf_dir))


QUERIES["t_entity_golden_record"] = t_entity_golden_record
ORACLES["t_entity_golden_record"] = f"""
WITH RECURSIVE c AS (
  SELECT c_custkey AS cust, c_nationkey AS nat,
         CAST(c_acctbal AS DECIMAL(12,2)) AS c_bal,
         CAST(regexp_extract(c_name, '(\\d+)$', 1) AS BIGINT) % 100 AS c_sfx
  FROM customer
),
s AS (
  SELECT s_suppkey AS supp, s_nationkey AS nat,
         CAST(s_acctbal AS DECIMAL(12,2)) AS s_bal,
         CAST(regexp_extract(s_name, '(\\d+)$', 1) AS BIGINT) % 100 AS s_sfx
  FROM supplier
),
m AS (
  -- the FULL three-comparator score, mirroring _scored_registry_pairs;
  -- >= 5 holds iff both balance comparators agree (suffix adds 0 or 1)
  SELECT cust, supp, c_bal, s_bal
  FROM c JOIN s USING (nat)
  WHERE CAST(CASE WHEN abs(c_bal - s_bal) < 50.00 THEN 3 ELSE -1 END
           + CASE WHEN FLOOR(c_bal / 500.0) = FLOOR(s_bal / 500.0)
                  THEN 2 ELSE -1 END
           + CASE WHEN c_sfx = s_sfx THEN 1 ELSE 0 END AS BIGINT)
        >= {_MATCH_MIN_SCORE}
),
edges AS (
  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM m
  UNION
  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM m
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
bal AS (
  -- DISTINCT over UNION ALL, not bare UNION: inside a WITH RECURSIVE
  -- block DuckDB does not apply set-union dedup to later CTEs
  SELECT DISTINCT node, bal FROM (
    SELECT cust * 2 AS node, c_bal AS bal FROM m
    UNION ALL
    SELECT supp * 2 + 1 AS node, s_bal AS bal FROM m
  )
)
SELECT comp.component AS entity_id,
       CAST(SUM(CASE WHEN comp.node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cust,
       CAST(SUM(CASE WHEN comp.node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_supp,
       CAST(MAX(bal.bal) * 100 AS BIGINT) AS golden_bal_cents,
       MIN(CASE WHEN comp.node % 2 = 0 THEN comp.node // 2 END) AS rep_cust,
       MIN(CASE WHEN comp.node % 2 = 1 THEN comp.node // 2 END) AS rep_supp
FROM comp JOIN bal ON comp.node = bal.node
GROUP BY comp.component
"""


# ---------------------------------------------------------------------------
# QUALITY-ADJUDICATED keep-one corpus pipeline (round 10): the chunked
# pipeline with t_chunk_keepone_rewrite as its dedup stage — within every
# duplicated (chunk_hash, chunk_len) group the ONE surviving occurrence is
# the one in the highest-quality document (t_pair_quality_keeper's keeper
# law), and the packed bins are built from THAT rebuilt text. This is the
# end-to-end shape of a curation pipeline that keeps its best copy of
# every duplicated passage instead of the globally-first one. RUNTIME
# query (the keep-one rewrite eagerly materializes its drop table — the
# round-9 broadcast-race lesson — and `assigned` is eagerly pinned here
# for the same reason: three consumers, two of them broadcast builds).
# Scale shape: the keep-one rewrite's stages (documented at the operator)
# + one narrow doc_id join for the split stratum + the pack's single
# shard-key window; nothing new shuffles text beyond the rewrite's
# documented doc⋈drops join.
# ---------------------------------------------------------------------------
def _corpus_pipeline_keepone_oracle() -> str:
    from ..operators.packing import pack_concat_offsets_sql
    from ..operators.split import split_case_sql
    from . import text_queries as _tq

    split_case = split_case_sql("doc_id", _SPLIT_FRACTIONS, "source")
    pack_sql = pack_concat_offsets_sql(
        weight_expr="n_tokens",
        capacity=_PACK_CAPACITY,
        n_shards=_PACK_SHARDS,
        table="train",
    )
    # the keep-one rewrite's REGISTERED oracle, embedded verbatim as a CTE
    # body — a hash match here certifies the composed pipeline against the
    # exact dedup law the standalone gate certifies
    keepone_sql = _tq.ORACLES["t_chunk_keepone_rewrite"]
    return f"""
    WITH rw AS ({keepone_sql}),
    joined AS (
      SELECT r.doc_id, d.source, r.rebuilt_text
      FROM rw r JOIN documents d ON r.doc_id = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, {split_case} AS split,
             len({TOKENS_SQL.format(c="rebuilt_text")}) AS n_tokens
      FROM joined
    ),
    train AS (SELECT doc_id, n_tokens FROM assigned WHERE split = 'train'),
    pack AS ({pack_sql})
    SELECT a.doc_id, a.split, p.shard, p.bin_idx, p.tok_start, p.tok_len
    FROM assigned a LEFT JOIN pack p ON a.doc_id = p.doc_id
    """


def t_corpus_pipeline_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_concat_offsets
    from ..operators.split import assign_split
    from .text_queries import t_chunk_keepone_rewrite

    docs = spread(read(spark, sf_dir, "documents"), spark)
    rw = t_chunk_keepone_rewrite(spark, sf_dir).select("doc_id", "rebuilt_text")
    rebuilt = rw.join(docs.select("doc_id", "source"), "doc_id")
    # EAGER pin (localCheckpoint, reclaimed when the result is dropped):
    # assigned is read three times (train filter, the pack window, the
    # final left join) over the whole keep-one rewrite subtree — the same
    # concurrent-broadcast-build hazard the rewrite's own drop table hit
    # in round 9; eager materialization makes the three consumers read a
    # narrow (doc_id, split, n_tokens) table instead of racing the chain.
    assigned = (
        assign_split(
            rebuilt, key="doc_id", fractions=_SPLIT_FRACTIONS, stratum="source"
        )
        .select(
            "doc_id",
            "split",
            F.size(tokens(F.col("rebuilt_text"))).cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    train = assigned.filter(F.col("split") == "train")
    pack = pack_concat_offsets(
        train, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    ).withColumnRenamed("doc_id", "p_doc_id")
    return assigned.join(
        pack, assigned["doc_id"] == pack["p_doc_id"], "left"
    ).select("doc_id", "split", "shard", "bin_idx", "tok_start", "tok_len")


QUERIES["t_corpus_pipeline_keepone"] = t_corpus_pipeline_keepone
ORACLES["t_corpus_pipeline_keepone"] = _corpus_pipeline_keepone_oracle()


# ---------------------------------------------------------------------------
# Packing capacity curve (round 11): the context-length budget table — the
# trade a pretraining pipeline reads before fixing its sequence length.
# Larger bins waste fewer tokens to shard-tail slack but split more
# documents across bin boundaries (more cross-document attention to mask,
# worse sample locality); this measures both ends at capacities 256 / 512
# (the production _PACK_CAPACITY) / 1024 over the certified concat-split
# packing law (pack_concat_offsets' shard/cumsum arithmetic VERBATIM).
# The shard cumsum is CAPACITY-INDEPENDENT: one md5-shard window pass
# feeds all three arms (the bin math is pure integer arithmetic over the
# shared (_start, _end) columns), each arm collapses to a per-shard
# aggregate (no exchange — the window already partitioned by shard) and
# one bounded global row. Waste is exact: a shard's only slack is its
# last bin, so n_bins = Σ ceil(shard_tokens/cap) and
# waste = n_bins·cap − total_tokens. All counts integer; waste_frac is
# one terminal double division.
# ---------------------------------------------------------------------------
_PACK_CURVE_CAPS = (256, _PACK_CAPACITY, 1024)


def _pack_capacity_curve_oracle(d_cte: str | None = None) -> str:
    shard = f"({md5_long_sql('CAST(doc_id AS VARCHAR)')} % {_PACK_SHARDS})"
    toks = TOKENS_SQL.format(c="text")
    d_cte = d_cte or f"""d AS (
      SELECT doc_id, len({toks}) AS w, {shard} AS shard
      FROM documents
      WHERE len({toks}) > 0
    )"""
    arms = []
    for cap in _PACK_CURVE_CAPS:
        arms.append(f"""
    SELECT CAST({cap} AS BIGINT) AS capacity,
           CAST(SUM((toks + {cap - 1}) // {cap}) AS BIGINT) AS n_bins,
           CAST(SUM(segs_{cap}) AS BIGINT) AS n_segments,
           CAST(SUM(splits_{cap}) AS BIGINT) AS n_split_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM((toks + {cap - 1}) // {cap}) * {cap} - SUM(toks)
             AS BIGINT) AS waste,
           CAST(SUM((toks + {cap - 1}) // {cap}) * {cap} - SUM(toks)
             AS DOUBLE) / (SUM((toks + {cap - 1}) // {cap}) * {cap})
             AS waste_frac
    FROM pershard""")
    seg_cols = ",\n             ".join(
        f"SUM((e - 1) // {cap} - (e - w) // {cap} + 1) AS segs_{cap},\n"
        f"             SUM(CASE WHEN (e - 1) // {cap} > (e - w) // {cap} "
        f"THEN 1 ELSE 0 END) AS splits_{cap}"
        for cap in _PACK_CURVE_CAPS
    )
    return f"""
    WITH {d_cte},
    c AS (
      SELECT doc_id, shard, w,
             SUM(w) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS e
      FROM d
    ),
    pershard AS (
      SELECT shard, MAX(e) AS toks,
             {seg_cols}
      FROM c
      GROUP BY shard
    )
    {" UNION ALL ".join(arms)}
    """


def t_pack_capacity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    weights = spread(read(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("w")
    )
    return _capacity_curve_table(weights)


def _capacity_curve_table(weights: DataFrame) -> DataFrame:
    """The three-capacity budget arms over a ``(doc_id, w)`` token-weight
    relation — shared by the whole-corpus curve above and the
    pipeline-train variant below (extracted round 12 while the corpus
    curve was still pending its first cert, so both certify fresh)."""
    shard = (md5_long(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias(
        "shard"
    )
    d = weights.select("doc_id", "w", shard).filter(F.col("w") > 0)
    win = Window.partitionBy("shard").orderBy("doc_id")
    c = d.withColumn("e", F.sum("w").over(win))
    out = None
    for cap in _PACK_CURVE_CAPS:
        fb = F.expr(f"(e - w) div {cap}")
        lb = F.expr(f"(e - 1) div {cap}")
        pershard = c.groupBy("shard").agg(
            F.max("e").alias("toks"),
            F.sum(lb - fb + 1).alias("segs"),
            F.sum(F.when(lb > fb, 1).otherwise(0)).alias("splits"),
        )
        bins = F.expr(f"(toks + {cap - 1}) div {cap}")
        row = pershard.agg(
            F.lit(cap).cast("long").alias("capacity"),
            F.sum(bins).cast("long").alias("n_bins"),
            F.sum("segs").cast("long").alias("n_segments"),
            F.sum("splits").cast("long").alias("n_split_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            (F.sum(bins) * cap - F.sum("toks")).cast("long").alias("waste"),
            (
                (F.sum(bins) * cap - F.sum("toks")).cast("double")
                / (F.sum(bins) * cap)
            ).alias("waste_frac"),
        ).select(
            "capacity",
            "n_bins",
            "n_segments",
            "n_split_docs",
            "total_tokens",
            "waste",
            "waste_frac",
        )
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["t_pack_capacity_curve"] = t_pack_capacity_curve
ORACLES["t_pack_capacity_curve"] = _pack_capacity_curve_oracle()


# ---------------------------------------------------------------------------
# Capacity curve over the PIPELINE'S train split (round 12): the token
# mass a real pipeline actually packs is not the raw corpus — it is what
# survives dedup and lands in 'train'. This runs the same three-capacity
# budget arms over the chunk-dedup pipeline's surviving-train relation
# (t_corpus_pipeline_chunked's rewrite → split stages VERBATIM — the
# chunk-level dedup variant is the STATIC pipeline, so this query keeps
# an analyzable plan; the CC-keep-one pipeline is runtime and its packing
# law is prefix-gated through t_corpus_pipeline every round). One narrow
# (doc_id, w) row per surviving train doc feeds the capacity-independent
# shard cumsum; the rewrite subtree is lazily pinned because the three
# arms re-read it (the t_corpus_pipeline_chunked persist discipline).
# The pin intentionally has no in-query unpersist: an eager release here
# would either defeat the three-arm reuse (try/finally before the caller
# consumes the lazy result) or turn the plan runtime (localCheckpoint
# executes jobs at build, erasing the static fingerprint). Instead every
# long-lived harness — bench.run_once, tools/gate_preflight, the parity
# suite's autouse fixture — clearCache()s between queries, so the pin
# lives exactly as long as its own invocation.
# ---------------------------------------------------------------------------
def _pack_capacity_train_oracle() -> str:
    from ..operators.split import split_case_sql
    from .text_queries import _chunk_rewrite_oracle

    split_case = split_case_sql("doc_id", _SPLIT_FRACTIONS, "source")
    shard = f"({md5_long_sql('CAST(doc_id AS VARCHAR)')} % {_PACK_SHARDS})"
    d_cte = f"""rw AS ({_chunk_rewrite_oracle()}),
    joined AS (
      SELECT r.doc_id, dd.source, r.rebuilt_text
      FROM rw r JOIN documents dd ON r.doc_id = dd.doc_id
    ),
    assigned AS (
      SELECT doc_id, {split_case} AS split,
             len({TOKENS_SQL.format(c="rebuilt_text")}) AS w
      FROM joined
    ),
    d AS (
      SELECT doc_id, w, {shard} AS shard
      FROM assigned
      WHERE split = 'train' AND w > 0
    )"""
    return _pack_capacity_curve_oracle(d_cte=d_cte)


def t_pack_capacity_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import assign_split
    from .text_queries import _chunk_rewrite

    docs = spread(read(spark, sf_dir, "documents"), spark)
    rw = _chunk_rewrite(docs.select("doc_id", "text"))
    rebuilt = rw.select("doc_id", "rebuilt_text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    weights = (
        assign_split(
            rebuilt, key="doc_id", fractions=_SPLIT_FRACTIONS, stratum="source"
        )
        .filter(F.col("split") == "train")
        .select(
            "doc_id",
            F.size(tokens(F.col("rebuilt_text"))).cast("long").alias("w"),
        )
        .persist()
    )
    return _capacity_curve_table(weights)


QUERIES["t_pack_capacity_train"] = t_pack_capacity_train
ORACLES["t_pack_capacity_train"] = _pack_capacity_train_oracle()
