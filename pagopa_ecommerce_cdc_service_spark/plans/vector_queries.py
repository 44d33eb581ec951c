"""Similarity-search query suite over ``embeddings`` (oracle-checked).

- brute-force cosine top-k (baseline; broadcast query vector, no shuffle)
- LSH-bucketed ANN (scale path: bucket-equality prune → exact re-rank)
- per-label centroid stats (integer-exact elementwise aggregation)
- sampled kNN join (top-3 neighbors for a 2% query sample via rank window)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    cosine,
    cosine_sql,
    dist2,
    dist2_sql,
    dot,
    dot_sql,
    lsh_bucket,
    lsh_bucket_sql,
    quantize,
    quantize_sql,
)
from .helpers import read, registrar, spread

QUERIES = {}
ORACLES = {}
query = registrar(QUERIES, ORACLES)


_QV = quantize_sql("embedding")


# ---------------------------------------------------------------------------
# brute-force cosine top-k against a fixed query vector (vec_id = 0)
# ---------------------------------------------------------------------------
@query(
    "e_cosine_topk",
    f"""
    WITH q AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label, {cosine_sql(quantize_sql("e.embedding"), "q.qv")} AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cos_sim
    FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def e_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).withColumn("qvec", quantize(F.col("embedding")))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ANN: LSH bucket prune → exact cosine re-rank (top 5 in query's bucket)
# ---------------------------------------------------------------------------
@query(
    "e_ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    b AS (SELECT vec_id, label, qvec, {lsh_bucket_sql("qvec")} AS bucket FROM e),
    q AS (SELECT qvec AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.label, b.bucket,
           {cosine_sql("b.qvec", "q.qv")} AS cos_sim
    FROM b, q
    WHERE b.bucket = q.qbucket AND b.vec_id <> 0
    ORDER BY cos_sim DESC, b.vec_id LIMIT 5
    """,
)
def e_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qvec")
    )
    with_bucket = emb.withColumn("bucket", lsh_bucket(F.col("qvec")))
    q = with_bucket.filter(F.col("vec_id") == 0).select(
        F.col("qvec").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        with_bucket.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0))
        .select(
            "vec_id", "label", "bucket",
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# per-label centroid statistics (elementwise integer sums, exact)
# ---------------------------------------------------------------------------
@query(
    "e_label_centroids",
    f"""
    WITH expl AS (
      SELECT label, i.pos, ({_QV})[i.pos + 1] AS v
      FROM embeddings,
           (SELECT UNNEST(generate_series(0, 63)) AS pos) i
    ),
    dims AS (
      SELECT label, pos, CAST(SUM(v) AS BIGINT) AS dim_sum
      FROM expl GROUP BY label, pos
    ),
    cnt AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT d.label, c.n_vectors,
           CAST(SUM(d.dim_sum * d.dim_sum) AS BIGINT) AS norm_sq_sum,
           sqrt(CAST(SUM(d.dim_sum * d.dim_sum) AS DOUBLE)) / c.n_vectors AS centroid_norm
    FROM dims d JOIN cnt c ON d.label = c.label
    GROUP BY d.label, c.n_vectors
    """,
)
def e_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "label", quantize(F.col("embedding")).alias("qvec")
    )
    dims = (
        emb.select("label", F.posexplode("qvec").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").cast("long").alias("dim_sum"))
    )
    cnt = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    return (
        dims.join(F.broadcast(cnt), "label")
        .groupBy("label", "n_vectors")
        .agg(F.sum(F.col("dim_sum") * F.col("dim_sum")).cast("long").alias("norm_sq_sum"))
        .select(
            "label",
            "n_vectors",
            "norm_sq_sum",
            (F.sqrt(F.col("norm_sq_sum").cast("double")) / F.col("n_vectors")).alias(
                "centroid_norm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# sampled kNN join: top-3 neighbors for every 50th vector
# ---------------------------------------------------------------------------
@query(
    "e_knn_sample",
    f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    qs AS (SELECT vec_id AS qid, qvec AS qv FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT qs.qid, e.vec_id, e.label,
             {cosine_sql("e.qvec", "qs.qv")} AS cos_sim
      FROM e, qs WHERE e.vec_id <> qs.qid
    )
    SELECT qid, vec_id, label, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def e_knn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qvec")
    )
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("qvec").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("qid", "vec_id", "label", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer (8 deterministic pivot vectors) → inverted
# lists (each vector assigned to its nearest pivot by exact integer L2²) →
# nprobe=2 search of the query's nearest lists → exact cosine re-rank.
# At 100 TB the lists become the partitioning key: assignment is one
# broadcast of the pivots, search touches only nprobe/nlist of the corpus.
# ---------------------------------------------------------------------------
_N_PIVOTS = 8
_NPROBE = 2


@query(
    "e_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.label, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, label, qvec, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid FROM assign WHERE vec_id = 0 AND rn <= {_NPROBE}),
    q AS (SELECT qvec AS qv FROM e WHERE vec_id = 0)
    SELECT c.vec_id, c.label, c.pid AS list_id,
           {cosine_sql("c.qvec", "q.qv")} AS cos_sim
    FROM lists c JOIN qprobe USING (pid), q
    WHERE c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id LIMIT 5
    """,
)
def e_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dist2, nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qvec")
    )
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    # corpus-side assignment: broadcast pivot-array fold, zero shuffle (the
    # per-vec_id window formulation exchanged the whole corpus just to rank
    # 8 pivot distances). Only the 1-row query side still uses a window.
    lists = nearest_pivot(emb, piv).select("vec_id", "label", "qvec", "pid")
    wq = Window.orderBy("d2", "pid")  # 8 rows: query × pivots
    qprobe = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("qvec"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("pid")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    return (
        lists.join(F.broadcast(qprobe), "pid", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", F.col("pid").alias("list_id"),
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs: LSH-bucket prune (candidates must
# collide in the hyperplane bucket) → exact cosine verify. The bucket
# equality join is the scale path: candidate count tracks duplicate density,
# never O(n²) over the corpus.
# ---------------------------------------------------------------------------
# this synthetic corpus is near-orthogonal (max within-bucket cosine ~0.4):
# the threshold sits at its high-similarity tail; a real dedup corpus would
# run the same pipeline at ~0.95+
_DUP_COS = 0.35


@query(
    "e_cosine_near_dup_pairs",
    f"""
    WITH e AS (SELECT vec_id, {_QV} AS qvec FROM embeddings),
    b AS (SELECT vec_id, qvec, {lsh_bucket_sql("qvec")} AS bucket FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_sql("a.qvec", "b.qvec")} AS cos_sim
    FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cosine_sql("a.qvec", "b.qvec")} >= {_DUP_COS}
    """,
)
def e_cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    b = emb.withColumn("bucket", lsh_bucket(F.col("qvec")))
    a2, b2 = b.alias("a"), b.alias("b")
    return (
        a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.qvec"), F.col("b.qvec")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _DUP_COS)
    )


# ---------------------------------------------------------------------------
# ANN quality audit: recall@5 of the IVF index against brute-force ground
# truth, for a fixed deterministic query panel (vec_id % 97 = 3). The ground
# truth is O(N·Q) with Q constant — an audit, not the serving path (same
# bounded-sample discipline as t_near_dup_sample_pairs). The IVF side reuses
# the e_ivf_topk layout: 8 broadcast pivots, nearest-pivot inverted lists,
# nprobe=2 probe. Certifying recall, not just top-k rows, is what lets a
# user trade nprobe/nlist against quality at 100 TB with evidence.
# ---------------------------------------------------------------------------
_RECALL_K = 5
_QUERY_MOD = 97
_QUERY_RES = 3


def _ann_recall_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, {_QV} AS qvec FROM embeddings),
    qs AS (SELECT vec_id AS qid, qvec AS qv FROM e
           WHERE vec_id % {_QUERY_MOD} = {_QUERY_RES}),
    gt AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {cosine_sql("e.qvec", "q.qv")} DESC, e.vec_id
               ) AS rn
        FROM e, qs q WHERE e.vec_id <> q.qid
      ) WHERE rn <= {_RECALL_K}
    ),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, qvec, pid FROM assign WHERE rn = 1),
    qprobe AS (
      SELECT q.qid, q.qv, a.pid
      FROM qs q JOIN assign a ON a.vec_id = q.qid AND a.rn <= {_NPROBE}
    ),
    ivf AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.qid
                 ORDER BY {cosine_sql("c.qvec", "p.qv")} DESC, c.vec_id
               ) AS rn
        FROM lists c JOIN qprobe p USING (pid)
        WHERE c.vec_id <> p.qid
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT gt.qid, COUNT(*) AS n
      FROM gt JOIN ivf ON gt.qid = ivf.qid AND gt.vec_id = ivf.vec_id
      GROUP BY gt.qid
    )
    SELECT q.qid AS query_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n, 0) / {_RECALL_K} AS recall_at_5
    FROM qs q LEFT JOIN hits h ON q.qid = h.qid
    """


@query("e_ann_recall", _ann_recall_oracle())
def e_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dist2, nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    qs = emb.filter(F.col("vec_id") % _QUERY_MOD == _QUERY_RES).select(
        F.col("vec_id").alias("qid"), F.col("qvec").alias("qv")
    )

    # ground truth: brute-force top-k per query (broadcast query panel)
    wq = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
    gt = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cs"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )

    # IVF: nearest-pivot lists via the broadcast pivot-array fold (zero
    # corpus shuffle); only the Q-row query panel ranks pivots by window
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    lists = nearest_pivot(emb, piv).select("vec_id", "qvec", "pid")
    wa = Window.partitionBy("qid").orderBy("d2", "pid")
    qprobe = (
        qs.crossJoin(F.broadcast(piv))
        .select("qid", "qv", "pid", dist2(F.col("qv"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _NPROBE)
        .select("qid", "qv", "pid")
    )
    ivf = (
        lists.join(F.broadcast(qprobe), "pid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cs"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )

    hits = gt.join(ivf, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("n")
    )
    return qs.select("qid").join(hits, "qid", "left").select(
        F.col("qid").alias("query_id"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n"), F.lit(0)) / _RECALL_K).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# semantic search end-to-end: embedding top-k → join document metadata (the
# retrieval shape a RAG/selection pipeline runs). The 10-row top-k side
# broadcasts into the documents join — the corpus-sized table never
# shuffles; at 100 TB the same plan holds (TakeOrderedAndProject, then a
# broadcast of k rows against the doc store).
# ---------------------------------------------------------------------------
_SEARCH_K = 10


def _semantic_search_oracle() -> str:
    return f"""
    WITH q AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, {cosine_sql(quantize_sql("e.embedding"), "q.qv")} AS cos_sim
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    topk AS (
      SELECT vec_id, cos_sim FROM scored
      ORDER BY cos_sim DESC, vec_id LIMIT {_SEARCH_K}
    )
    SELECT t.vec_id AS doc_id, d.source, d.lang, d.n_chars, t.cos_sim
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    """


@query("e_semantic_search", _semantic_search_oracle())
def e_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).withColumn(
        "qvec", quantize(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    topk = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_SEARCH_K)
    )
    docs = read(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return (
        docs.join(F.broadcast(topk), docs["doc_id"] == topk["vec_id"])
        .select("doc_id", "source", "lang", "n_chars", "cos_sim")
    )


# ---------------------------------------------------------------------------
# distributed k-means: unrolled Lloyd's as ONE static plan (operators/
# clustering.py has the full determinism + one-exchange scale rationale)
# ---------------------------------------------------------------------------
def _kmeans_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes
    from ..operators.similarity import QUANT

    return f"""
    WITH {kmeans_oracle_ctes(_QV)}
    SELECT cid AS cluster_id, COUNT(*) AS n_vectors,
           CAST(SUM(dist) AS BIGINT) AS wcss_q,
           sqrt(CAST(SUM(dist) AS DOUBLE) / COUNT(*)) / {QUANT}.0 AS rmse
    FROM a{KM_ITERS} GROUP BY cid
    """


@query("e_kmeans_clusters", _kmeans_oracle())
def e_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_plan
    from ..operators.similarity import QUANT

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        # the ONE wide exchange: every assignment pass downstream reuses
        # this partitioning through the centroid broadcasts
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    final = kmeans_plan(emb)
    return (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("dist").cast("long").alias("wcss_q"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            "wcss_q",
            (
                F.sqrt(F.col("wcss_q").cast("double") / F.col("n_vectors"))
                / F.lit(float(QUANT))
            ).alias("rmse"),
        )
    )


# ---------------------------------------------------------------------------
# scalar-quantized (int8) ANN: corpus-scaled 8-bit vectors prefilter a wide
# candidate set by integer dot product, exact QUANT-domain cosine rescores.
# THE scale rationale: an int8 vector is 64 bytes against 512 for the
# double-domain one — the brute-force scoring scan reads 8x less memory and
# the exact path touches only the candidate set. Determinism: one corpus
# max-abs statistic (exact double max), scale applied as (x*127.0)/m with
# identical parenthesization in both engines, round-then-cast (cast alone
# differs: Spark truncates, DuckDB rounds), integer dots, double cosine
# only over the 40 candidates.
# ---------------------------------------------------------------------------
_SQ8_CAND = 40
_SQ8_K = 10


def _sq8_oracle() -> str:
    from ..operators.similarity import DIMS

    q8 = (
        "list_transform(embedding, x -> "
        "CAST(round((CAST(x AS DOUBLE) * 127.0) / mx.m, 0) AS BIGINT))"
    )
    dot8 = (
        f"CAST(list_sum(list_transform(generate_series(1, {DIMS}), "
        f"i -> (e.q8)[i] * (q.q8q)[i])) AS BIGINT)"
    )
    return f"""
    WITH mx AS (
      SELECT MAX(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))))) AS m
      FROM embeddings
    ), e8 AS (
      SELECT vec_id, label, {q8} AS q8, {_QV} AS qvec
      FROM embeddings, mx
    ), q AS (
      SELECT q8 AS q8q, qvec AS qv FROM e8 WHERE vec_id = 0
    ), cand AS (
      SELECT e.vec_id, e.label, {dot8} AS dot8, e.qvec
      FROM e8 e, q WHERE e.vec_id <> 0
      ORDER BY dot8 DESC, e.vec_id LIMIT {_SQ8_CAND}
    )
    SELECT c.vec_id, c.label, c.dot8,
           {cosine_sql("c.qvec", "q.qv")} AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_SQ8_K}
    """


@query("e_sq8_topk", _sq8_oracle())
def e_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot

    emb = spread(read(spark, sf_dir, "embeddings"), spark)
    mx = emb.select(
        F.max(
            F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
        ).alias("m")
    )
    e8 = emb.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round((x.cast("double") * F.lit(127.0)) / F.col("m"), 0).cast(
                "long"
            ),
        ).alias("q8"),
        quantize(F.col("embedding")).alias("qvec"),
    )
    q = e8.filter(F.col("vec_id") == 0).select(
        F.col("q8").alias("q8q"), F.col("qvec").alias("qv")
    )
    cand = (
        e8.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", dot(F.col("q8"), F.col("q8q")).alias("dot8"), "qvec")
        .orderBy(F.desc("dot8"), F.asc("vec_id"))
        .limit(_SQ8_CAND)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", "dot8", cosine(F.col("qvec"), F.col("qv")).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_SQ8_K)
    )


# ---------------------------------------------------------------------------
# product-quantization ANN: per-subspace codebooks (grouped unrolled
# Lloyd's), PQ codes, asymmetric-distance search, exact rescore. See
# operators/clustering.py for the code-table-scan scale rationale.
# ---------------------------------------------------------------------------
_PQ_CAND = 40
_PQ_OUT = 10


def _pq_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {pq_oracle_ctes(_QV)},
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM pq_subs s JOIN pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM pq_codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT q AS qv FROM pq_emb WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.adc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_pq_topk", _pq_oracle())
def e_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    # ONE wide exchange of subvectors: every training pass (3 assignments,
    # 2 codebook rebuilds) and the query-LUT branch reference this same
    # subtree — hash-partitioning it makes the subtrees canonically equal,
    # so AQE's ReusedExchange materializes the slice/quantize work once
    # (measured: 2.7x faster cold, 4 ReusedExchange nodes in the final
    # plan), exactly the kmeans_plan trick at (vec_id, sub) grain
    subs = pq_subvectors(full.select("vec_id", "q")).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    # query-side 128-entry distance lookup table (the only place full
    # subvectors meet the codebook at search time)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "adc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


# ---------------------------------------------------------------------------
# Maximum-inner-product top-k (MIPS) — the retrieval scoring used with
# learned embedding models where magnitude carries relevance (un-normalized
# dual-encoder scores), distinct from cosine's angle-only ranking. The dot
# product runs entirely in BIGINT over the shared quantized domain, so the
# score is exact and bit-identical cross-engine with no float anywhere.
# Scale shape: identical to e_cosine_topk — the single query vector is a
# broadcast one-row relation, scoring is a map-side zip_with fold over the
# corpus scan (no shuffle of the embeddings side), and top-k is
# TakeOrderedAndProject, never a global sort. The standard MIPS→NN
# reduction (augment with sqrt(M² − ‖x‖²), then any cosine/L2 ANN index
# applies) is how this composes with the LSH/IVF/PQ paths at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "e_mips_topk",
    f"""
    WITH q AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 1),
    scored AS (
      SELECT e.vec_id, e.label,
             CAST({dot_sql(quantize_sql("e.embedding"), "q.qv")} AS BIGINT) AS dot_q
      FROM embeddings e, q
      WHERE e.vec_id <> 1
    )
    SELECT vec_id, label, dot_q
    FROM scored ORDER BY dot_q DESC, vec_id LIMIT 10
    """,
)
def e_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).withColumn(
        "qvec", quantize(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") == 1).select(F.col("qvec").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            dot(F.col("qvec"), F.col("qv")).cast("long").alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Matryoshka (dim-prefix) retrieval: modern embedding models train nested
# representations so the FIRST d' dims alone rank well — search scans a
# d'-dim prefix (here 16 of 64: 4× less arithmetic and, with a stored
# prefix column, 4× less I/O) for a candidate pool, then reranks only the
# pool with full-dimension exact cosine. Coarse scores are exact integer
# dots of the quantized prefix (orderable identically in both engines);
# cosine goes double only at the final division of identical operands.
# Scale shape: broadcast one-row query vector, map-only coarse scoring
# (the prefix slice prunes the scan when the prefix is a stored column),
# TakeOrdered top-C, rerank touches C=50 rows — the IVF/PQ "cheap scan →
# exact rescore of a bounded pool" profile without any codebook state.
# ---------------------------------------------------------------------------
_MAT_DIMS = 16
_MAT_POOL = 50
_MAT_TOP = 10


@query(
    "e_matryoshka_topk",
    f"""
    WITH q AS (
      SELECT {_QV} AS qv, ({_QV})[1:{_MAT_DIMS}] AS qp
      FROM embeddings WHERE vec_id = 0
    ),
    coarse AS (
      SELECT e.vec_id, e.label, {quantize_sql("e.embedding")} AS ev,
             {dot_sql(f"({quantize_sql('e.embedding')})[1:{_MAT_DIMS}]", "q.qp")} AS coarse_dot
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY coarse_dot DESC, e.vec_id LIMIT {_MAT_POOL}
    )
    SELECT c.vec_id, c.label, c.coarse_dot,
           {cosine_sql("c.ev", "q.qv")} AS cos_sim
    FROM coarse c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_MAT_TOP}
    """,
)
def e_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).withColumn(
        "ev", quantize(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("ev").alias("qv"), F.slice(F.col("ev"), 1, _MAT_DIMS).alias("qp")
    )
    coarse = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "ev",
            "qv",
            dot(F.slice(F.col("ev"), 1, _MAT_DIMS), F.col("qp")).alias("coarse_dot"),
        )
        .orderBy(F.desc("coarse_dot"), F.asc("vec_id"))
        .limit(_MAT_POOL)
    )
    return (
        coarse.select(
            "vec_id",
            "label",
            "coarse_dot",
            cosine(F.col("ev"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_MAT_TOP)
    )


# ---------------------------------------------------------------------------
# IVF index health: per-list occupancy and corpus share. List BALANCE is
# the quantity that decides whether an IVF layout scales — a skewed list
# turns nprobe pruning into a full scan of the hot list — so the build
# pipeline surfaces it as a first-class table (8 rows at any corpus size:
# per-list count + 1e6-scaled share, exact integer arithmetic). Scale
# shape: the broadcast pivot-array assignment fold (zero corpus
# exchanges), one map-side-combined groupBy(pid), and the corpus total as
# a broadcast one-row aggregate.
# ---------------------------------------------------------------------------
@query(
    "e_ivf_build_stats",
    f"""
    WITH e AS (SELECT vec_id, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
    n AS (SELECT count(*) AS total FROM embeddings)
    SELECT l.pid AS list_id, count(*) AS n_vecs,
           (count(*) * 1000000) // n.total AS share_micro
    FROM lists l CROSS JOIN n
    GROUP BY l.pid, n.total
    """,
)
def e_ivf_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    lists = nearest_pivot(emb, piv).select("vec_id", "pid")
    n = emb.agg(F.count("*").alias("total"))
    return (
        lists.groupBy("pid")
        .agg(F.count("*").alias("n_vecs"))
        .crossJoin(F.broadcast(n))
        .withColumn("share_micro", F.expr("(n_vecs * 1000000) div total"))
        .select(F.col("pid").alias("list_id"), "n_vecs", "share_micro")
    )


# ---------------------------------------------------------------------------
# IVF×PQ composed index (the FAISS IVFPQ shape): coarse IVF pruning
# restricts the ADC scan to the query's nprobe lists, then the PQ
# lookup-table distance ranks only the surviving codes, then exact cosine
# rescored on the bounded pool. At 100 TB this is THE serving layout:
# assignment is the zero-shuffle broadcast pivot fold, the ADC join
# touches nprobe/nlist of the code table (small ints + a broadcast
# 128-entry LUT), and the full vectors are read back for just the final
# candidates. The probed-id set rides a broadcast semi-join into the code
# scan — at production it becomes a partition-pruning predicate when the
# codes are laid out by list_id.
# ---------------------------------------------------------------------------
def _ivfpq_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {pq_oracle_ctes(_QV)},
    piv AS (SELECT vec_id AS pid, q AS pv FROM pq_emb
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.q", "p.pv")}, p.pid) AS rn
      FROM pq_emb e, piv p
    ),
    lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid FROM assign WHERE vec_id = 0 AND rn <= {_NPROBE}),
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM pq_subs s JOIN pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM pq_codes k
           JOIN lists li ON li.vec_id = k.vec_id
           JOIN qprobe USING (pid)
           JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT q AS qv FROM pq_emb WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.adc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_ivfpq_topk", _ivfpq_oracle())
def e_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist
    from ..operators.similarity import dist2, nearest_pivot

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    # IVF side: broadcast pivot fold assignment + the query's nprobe lists
    piv = full.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pv")
    )
    lists = nearest_pivot(
        full.select("vec_id", F.col("q").alias("qvec")), piv
    ).select("vec_id", "pid")
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        full.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("q"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("pid")
    )
    probed = lists.join(F.broadcast(qprobe), "pid", "left_semi").select("vec_id")
    # PQ side: train on the full corpus (FAISS trains codebooks globally),
    # scan only the probed codes at query time
    subs = pq_subvectors(full.select("vec_id", "q")).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probed), "vec_id", "left_semi")
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "adc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs discovered
# WITHIN k-means clusters — the embedding-space complement of the LSH
# bucket prune. The cluster assignment is the SAME unrolled distributed
# Lloyd's plan as e_kmeans_clusters (vectors cross the wire once); pair
# candidates are cluster-bucketed (quadratic only within a cluster, whose
# size is bounded by scaling k with the corpus — the paper's design),
# verified by exact integer-quantized cosine. At 100 TB the cluster id
# becomes the partition key: candidate generation is an equi-self-join on
# cid, never all-pairs over the corpus.
# ---------------------------------------------------------------------------
_SEMDEDUP_COS = 0.35  # this synthetic corpus is near-orthogonal (see above)


def _semdedup_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes

    fin = f"a{KM_ITERS}"
    # norms are per-VECTOR precomputations (an inline cosine would redo
    # dot(q,q) per PAIR — 2/3 of the pair work); the final expression is
    # the same operations on the same integers, so the double is
    # bit-identical to cosine_sql's inline form
    cos = (
        f"CAST({dot_sql('ea.q', 'eb.q')} AS DOUBLE) / "
        f"(sqrt(CAST(ea.n2 AS DOUBLE)) * sqrt(CAST(eb.n2 AS DOUBLE)))"
    )
    return f"""
    WITH {kmeans_oracle_ctes(_QV)},
    embn AS (SELECT vec_id, q, {dot_sql("q", "q")} AS n2 FROM emb)
    SELECT x.cid AS cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b,
           {cos} AS cos_sim
    FROM {fin} x JOIN {fin} y ON x.cid = y.cid AND x.vec_id < y.vec_id
         JOIN embn ea ON ea.vec_id = x.vec_id
         JOIN embn eb ON eb.vec_id = y.vec_id
    WHERE {cos} >= {_SEMDEDUP_COS}
    """


@query("e_semdedup_pairs", _semdedup_oracle())
def e_semdedup_pairs(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    # ``k`` (default: the operator's KM_K) is the k∝n scale knob — the
    # paper's design point is scaling the cluster count with the corpus so
    # per-cluster size stays constant; tools/semdedup_kscale.py measures
    # exactly that at the sf1 decade. The default emission is byte-identical
    # to the unparameterized form (tail fingerprints depend on it).
    from ..operators.clustering import kmeans_plan

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    km = kmeans_plan(emb) if k is None else kmeans_plan(emb, k=k)
    final = km.select("vec_id", "cid")
    a = final.alias("a")
    b = final.alias("b")
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.cid").alias("cluster_id"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    # arrays join back once per side over the pinned vec_id exchange (the
    # LSH-verification discipline: the cid self-join shuffles only narrow
    # (vec_id, cid) rows); norms are per-VECTOR precomputations — the
    # inline cosine would redo dot(q,q) per PAIR, 2/3 of the pair work
    # (measured 6.1 s → 3.2 s warm at sf0.1)
    embn = emb.withColumn("n2", dot(F.col("q"), F.col("q")))
    xa = embn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    xb = embn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    cos = dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        cand.join(xa, "vec_a")
        .join(xb, "vec_b")
        .select("cluster_id", "vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _SEMDEDUP_COS)
    )


# ---------------------------------------------------------------------------
# Recall audits for the composed indexes: every approximate layout in the
# suite gets a measured-quality row against brute-force ground truth, the
# evidence a user needs to trade candidate-pool size / nprobe / prefix
# dims against quality at 100 TB (the vector-side analog of the MinHash
# estimator audit). Each audit is O(N) — ONE exact scan for the ground
# truth (broadcast one-row query, TakeOrderedAndProject top-k) — plus the
# index's own bounded search; never all-pairs. The semdedup audit is the
# exception by design: its ground truth is the exact above-threshold pair
# set, quadratic like every dedup-losslessness oracle in the suite —
# audit-grade work on a bounded panel, not the serving path.
# ---------------------------------------------------------------------------
def _exact_topk_gt(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    k: int,
    label_filter=None,
):
    """Brute-force exact-cosine top-k vec_ids for the fixed query vector;
    ``label_filter`` (a Column predicate) restricts the corpus for the
    filtered-search audit. With the default None the built plan is
    byte-identical to the unfiltered form (tail fingerprints depend on it)."""
    cols = ["vec_id"] + (["label"] if label_filter is not None else [])
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        *cols, quantize(F.col("embedding")).alias("qvec")
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("qvec").alias("qv")
    )
    base = emb.filter(F.col("vec_id") != query_vec_id)
    if label_filter is not None:
        base = base.filter(label_filter)
    return (
        base.crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cs"))
        .orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )


def _gt_sql(query_vec_id: int, k: int, extra_where: str = "") -> str:
    return f"""
      SELECT vec_id FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY {cosine_sql(quantize_sql("e.embedding"), "gq.qv")} DESC,
                          e.vec_id
               ) AS rn
        FROM embeddings e,
             (SELECT {_QV} AS qv FROM embeddings
              WHERE vec_id = {query_vec_id}) gq
        WHERE e.vec_id <> {query_vec_id}{extra_where}
      ) WHERE rn <= {k}
    """


def _recall_row(approx: DataFrame, gt: DataFrame, k: int) -> DataFrame:
    return approx.join(gt, "vec_id").agg(
        F.lit(k).cast("long").alias("k"),
        F.count("*").alias("n_hits"),
        (F.count("*") / k).alias(f"recall_at_{k}"),
    )


def _recall_sql(
    approx_sql: str, query_vec_id: int, k: int, extra_where: str = ""
) -> str:
    return f"""
    WITH approx AS ({approx_sql}),
    gt AS ({_gt_sql(query_vec_id, k, extra_where)})
    SELECT CAST({k} AS BIGINT) AS k,
           count(*) AS n_hits,
           count(*) / {k} AS recall_at_{k}
    FROM approx JOIN gt USING (vec_id)
    """


@query("e_ivfpq_recall", _recall_sql(_ivfpq_oracle(), 0, _PQ_OUT))
def e_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_ivfpq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _PQ_OUT),
        _PQ_OUT,
    )


@query(
    "e_matryoshka_recall",
    _recall_sql(ORACLES["e_matryoshka_topk"], 0, _MAT_TOP),
)
def e_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_matryoshka_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _MAT_TOP),
        _MAT_TOP,
    )


@query("e_sq8_recall", _recall_sql(_sq8_oracle(), 0, _SQ8_K))
def e_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_sq8_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _SQ8_K),
        _SQ8_K,
    )


# pair-recall of the cluster-bucketed SemDeDup prune vs the EXACT
# above-threshold pair set: what fraction of true semantic near-dup pairs
# does the within-cluster restriction recover? (A pair is missed exactly
# when Lloyd's separates its endpoints.) Norms are precomputed per vector;
# the exact side is the audit's quadratic ground truth.
@query(
    "e_semdedup_pair_recall",
    f"""
    WITH approx AS ({_semdedup_oracle()}),
    embn AS (SELECT vec_id, {_QV} AS q,
                    {dot_sql(_QV, _QV)} AS n2
             FROM embeddings),
    exact AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embn a JOIN embn b ON a.vec_id < b.vec_id
      WHERE CAST({dot_sql("a.q", "b.q")} AS DOUBLE)
              / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
            >= {_SEMDEDUP_COS}
    )
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           count(*) AS n_found,
           count(*) / (SELECT count(*) FROM exact) AS pair_recall
    FROM approx a JOIN exact e
      ON a.vec_a = e.vec_a AND a.vec_b = e.vec_b
    """,
)
def e_semdedup_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    embn = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .withColumn("n2", dot(F.col("q"), F.col("q")))
    )
    a = embn.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("n2").alias("na")
    )
    b = embn.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("n2").alias("nb")
    )
    cos = dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    exact = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= _SEMDEDUP_COS)
        .select("vec_a", "vec_b")
    )
    approx = e_semdedup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    # r15 (guide §1.2 "don't compute things you throw away"): ONE pass over
    # the exact pair relation — previously `exact` (the O(n²) cosine join,
    # the audit's dominant cost) was referenced twice (denominator count +
    # the hit join), and non-exchange subtrees are never runtime-reused, so
    # the quadratic scan executed twice. Both counts now come from one
    # left join against the (distinct) approx pairs: count(*) = |exact|,
    # count(_hit) = |exact ∩ approx| — identical values (both pair sets
    # are unique: one cluster per vector bounds approx, embn is unique per
    # vec_id in exact; the explicit distinct pins the multiplicity).
    hit = approx.distinct().withColumn("_hit", F.lit(1))
    return (
        exact.join(hit, ["vec_a", "vec_b"], "left")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            "n_found",
            (F.col("n_found") / F.col("n_exact")).alias("pair_recall"),
        )
    )


# ---------------------------------------------------------------------------
# metadata-FILTERED ANN (the FAISS/vector-DB "filtered search" serving
# shape): top-k under a label predicate, composed with the IVF layout —
# the predicate is applied INSIDE the probed-list scan (pre-filter
# semantics), so selectivity multiplies with the nprobe/nlist prune
# instead of post-filtering a top-k that may then under-fill. At 100 TB
# the label predicate is a parquet pushdown on the list-partitioned code
# table — the scan reads only matching row groups of the probed lists.
# Known property of pre-filter IVF (documented, same in FAISS): a very
# selective filter can leave < k results in the probed lists; raising
# nprobe is the quality knob, and the recall audits quantify it.
# ---------------------------------------------------------------------------
_FILTER_LABELS = (2, 5)
_FILTERED_K = 10


@query(
    "e_filtered_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.label, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, label, qvec, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid FROM assign WHERE vec_id = 0 AND rn <= {_NPROBE}),
    q AS (SELECT qvec AS qv FROM e WHERE vec_id = 0)
    SELECT c.vec_id, c.label, c.pid AS list_id,
           {cosine_sql("c.qvec", "q.qv")} AS cos_sim
    FROM lists c JOIN qprobe USING (pid), q
    WHERE c.vec_id <> 0 AND c.label IN {_FILTER_LABELS}
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_FILTERED_K}
    """,
)
def e_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dist2, nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qvec")
    )
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    lists = nearest_pivot(emb, piv).select("vec_id", "label", "qvec", "pid")
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("qvec"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("pid")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    return (
        lists.join(F.broadcast(qprobe), "pid", "left_semi")
        .filter((F.col("vec_id") != 0) & F.col("label").isin(*_FILTER_LABELS))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", F.col("pid").alias("list_id"),
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_FILTERED_K)
    )


# recall audit for the filtered search: ground truth = EXACT cosine top-k
# over the label-filtered corpus (one O(N) scan — the shared recall
# scaffolding with a label predicate). This quantifies precisely the
# pre-filter IVF under-fill risk documented above: every hit lost to a
# selective filter shrinking the probed lists shows up here as recall < 1.
@query(
    "e_filtered_recall",
    _recall_sql(
        ORACLES["e_filtered_topk"],
        0,
        _FILTERED_K,
        extra_where=f" AND e.label IN {_FILTER_LABELS}",
    ),
)
def e_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_filtered_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(
            spark,
            sf_dir,
            0,
            _FILTERED_K,
            label_filter=F.col("label").isin(*_FILTER_LABELS),
        ),
        _FILTERED_K,
    )


# ---------------------------------------------------------------------------
# Residual (2-level additive) quantization — the RVQ index family:
# level-1 codebook = a deterministic pivot set (vec_id 1..16, the IVF
# discipline); level-2 codebook = the RESIDUALS of the next 32 vectors
# after their own level-1 assignment (codeword = qvec − nearest c1, exact
# integers). Every vector encodes as (c1, c2) with reconstruction
# x̂ = c1 + c2; the approximate score is dot(q, x̂) = dot(q,c1) +
# dot(q,c2) — exact BIGINT, orderable identically in both engines — then
# the bounded pool reranks with full exact cosine (the IVF/PQ "cheap scan
# → exact rescore" profile). 100 TB shape: both codebooks collapse to
# broadcast one-row arrays (the nearest_pivot fold discipline — zero
# corpus exchanges for BOTH assignment levels), scoring is map-only, the
# pool is TakeOrderedAndProject. The recall audit quantifies what the
# two-level reconstruction loses vs exact search — on the near-random
# synthetic embeddings it measures recall@10 = 0.2 at sf0.01 (48
# deterministic codewords cannot represent 64 i.i.d.-ish dims; compare
# JL/Matryoshka 0.4, IVFPQ 0.6 on the same corpus), which is exactly the
# capacity bound an audit exists to surface.
# ---------------------------------------------------------------------------
_RQ_L1_LO, _RQ_L1_HI = 1, 16                 # level-1 codewords: ids 1..16
_RQ_L2_LO, _RQ_L2_HI = 17, 48                # residual codewords: ids 17..48
_RQ_POOL = 100
_RQ_TOP = 10


def _nearest_struct(piv_col, v):
    """Nearest entry (pid, pv) of a sorted broadcast codebook array by
    exact integer L2² — the nearest_pivot fold, keeping the codeword
    vector so callers can form residuals/reconstructions in-row.

    r14 optimization: each codeword is scored ONCE (transform →
    struct(d2, pid, pv)) and the winner is the lexicographic array_min —
    identical to the previous strict-< fold (pid-sorted array ⇒ the fold
    kept the smallest pid on a d2 tie; array_min over (d2, pid, …) picks
    exactly that) at half the dist2 evaluations. Callers read fields by
    name."""
    return F.array_min(
        F.transform(
            piv_col,
            lambda p: F.struct(
                dist2(p["pv"], v).alias("d2"),
                p["pid"].alias("pid"),
                p["pv"].alias("pv"),
            ),
        )
    )


def _rq_oracle() -> str:
    res = "list_transform(generate_series(1, 64), i -> {a}[i] - {b}[i])"
    return f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    c1 AS (SELECT vec_id AS pid, qvec AS pv FROM e
           WHERE vec_id BETWEEN {_RQ_L1_LO} AND {_RQ_L1_HI}),
    cwa AS (
      SELECT e.vec_id, e.qvec, p.pv,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, c1 p
      WHERE e.vec_id BETWEEN {_RQ_L2_LO} AND {_RQ_L2_HI}
    ),
    c2 AS (
      SELECT vec_id AS cid, {res.format(a="qvec", b="pv")} AS cv
      FROM cwa WHERE rn = 1
    ),
    a1 AS (
      SELECT e.vec_id, e.label, e.qvec, p.pv,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, c1 p
      WHERE e.vec_id <> 0
    ),
    r1 AS (
      SELECT vec_id, label, qvec, pv,
             {res.format(a="qvec", b="pv")} AS resid
      FROM a1 WHERE rn = 1
    ),
    a2 AS (
      SELECT r.vec_id, r.label, r.qvec, r.pv, c.cv,
             ROW_NUMBER() OVER (PARTITION BY r.vec_id
                                ORDER BY {dist2_sql("r.resid", "c.cv")}, c.cid) AS rn
      FROM r1 r, c2 c
    ),
    q AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT a.vec_id, a.label, a.qvec,
             {dot_sql("q.qv", "a.pv")} + {dot_sql("q.qv", "a.cv")} AS rq_score
      FROM a2 a, q
      WHERE a.rn = 1
      ORDER BY rq_score DESC, a.vec_id LIMIT {_RQ_POOL}
    )
    SELECT p.vec_id, p.label, p.rq_score,
           {cosine_sql("p.qvec", "q.qv")} AS cos_sim
    FROM pool p, q
    ORDER BY cos_sim DESC, p.vec_id LIMIT {_RQ_TOP}
    """


@query("e_rq_topk", _rq_oracle())
def e_rq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qvec")
    )
    c1_arr = (
        emb.filter(F.col("vec_id").between(_RQ_L1_LO, _RQ_L1_HI))
        .select(F.col("vec_id").alias("pid"), F.col("qvec").alias("pv"))
        .agg(F.array_sort(F.collect_list(F.struct("pid", "pv"))).alias("_c1"))
    )
    c2_arr = (
        emb.filter(F.col("vec_id").between(_RQ_L2_LO, _RQ_L2_HI))
        .crossJoin(F.broadcast(c1_arr))
        .withColumn("_b", _nearest_struct(F.col("_c1"), F.col("qvec")))
        .select(
            F.col("vec_id").alias("pid"),
            F.zip_with("qvec", F.col("_b.pv"), lambda x, y: x - y).alias("pv"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("pid", "pv"))).alias("_c2"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(c1_arr))
        .crossJoin(F.broadcast(c2_arr))
        .crossJoin(F.broadcast(q))
        .withColumn("_b1", _nearest_struct(F.col("_c1"), F.col("qvec")))
        .withColumn(
            "_r", F.zip_with("qvec", F.col("_b1.pv"), lambda x, y: x - y)
        )
        .withColumn("_b2", _nearest_struct(F.col("_c2"), F.col("_r")))
        .select(
            "vec_id",
            "label",
            "qvec",
            "qv",
            (dot(F.col("qv"), F.col("_b1.pv")) + dot(F.col("qv"), F.col("_b2.pv")))
            .cast("long")
            .alias("rq_score"),
        )
        .orderBy(F.desc("rq_score"), F.asc("vec_id"))
        .limit(_RQ_POOL)
    )
    return (
        pool.select(
            "vec_id",
            "label",
            "rq_score",
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_RQ_TOP)
    )


@query("e_rq_recall", _recall_sql(_rq_oracle(), 0, _RQ_TOP))
def e_rq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_rq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _RQ_TOP),
        _RQ_TOP,
    )


# ---------------------------------------------------------------------------
# Gram (scatter) matrix of the embedding corpus — the aggregation a PCA /
# whitening / low-rank-projection stage runs first: G[i,j] = Σ_rows
# v[i]·v[j] over the quantized domain, exact BIGINT (64·64 dims × values
# ≤ ~1e3·corpus — far under 2⁶³). 100 TB shape: explode the row index i
# (64 rows per vector), elementwise-multiply the in-row array, then ONE
# groupBy(i) whose per-dimension array sums are partial-aggregable — the
# corpus crosses the wire as at most 64 × n_partitions partial rows, and
# the result is a fixed 64×64 table at any corpus size (the mergeable-
# summary property, same as the label-centroid fold). The eigensolve on
# the 64×64 result is driver-side math by design — it is O(dims³), not
# O(corpus).
# ---------------------------------------------------------------------------
@query(
    "e_gram_matrix",
    f"""
    WITH e AS (SELECT {_QV} AS q FROM embeddings),
    rows_i AS (
      SELECT q, unnest(range(1, {64 + 1})) AS i FROM e
    ),
    cells AS (
      SELECT i, unnest(list_transform(q, (x, j) -> struct_pack(
               j := j, v := q[CAST(i AS INTEGER)] * x))) AS c
      FROM rows_i
    )
    SELECT CAST(i AS BIGINT) AS dim_i, CAST(c.j AS BIGINT) AS dim_j,
           CAST(SUM(c.v) AS BIGINT) AS gram
    FROM cells
    GROUP BY i, c.j
    """,
)
def e_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        quantize(F.col("embedding")).alias("q")
    )
    # one Generate (64×): row i + the full array; scaled = v_i * v stays
    # in-row, then the groupBy(i) partial-aggregates 64 sums map-side
    ex = emb.select(
        F.posexplode(F.col("q")).alias("i0", "vi"), F.col("q")
    ).select(
        (F.col("i0") + 1).alias("dim_i"),
        F.transform(F.col("q"), lambda x: F.col("vi") * x).alias("scaled"),
    )
    sums = ex.groupBy("dim_i").agg(
        *[
            F.sum(F.element_at("scaled", j + 1)).alias(f"g{j}")
            for j in range(64)
        ]
    )
    return sums.select(
        F.col("dim_i").cast("long").alias("dim_i"),
        F.posexplode(F.array(*[F.col(f"g{j}") for j in range(64)])).alias(
            "j0", "gram"
        ),
    ).select(
        "dim_i",
        (F.col("j0") + 1).cast("long").alias("dim_j"),
        F.col("gram").cast("long").alias("gram"),
    )


# ---------------------------------------------------------------------------
# hybrid retrieval (BM25 ∪ ANN with reciprocal-rank fusion): the standard
# two-tower serving composition — a lexical ranked list over `documents`
# and a vector ranked list over `embeddings`, fused by RRF
# (score = Σ 1/(60 + rank), Cormack et al.'s k=60). Ranks come from two
# bounded top-k lists (10 rows each), so the fusion is a full-outer join
# of two tiny relations + one deterministic double per side (IEEE
# division of identical small integers — bit-identical cross-engine).
# 100 TB shape: each side keeps its own scale path (BM25: one corpus
# scan + broadcast stats; ANN: map-only scoring + TakeOrderedAndProject);
# the fusion itself is O(k). Docs and vectors share the id space by
# corpus construction (embedding i embeds document i).
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_TOP = 10


def _hybrid_oracle() -> str:
    from .text_queries import ORACLES as TEXT_ORACLES

    cos_topk = f"""
      SELECT e.vec_id AS doc_id,
             {cosine_sql(quantize_sql("e.embedding"), "q.qv")} AS cos_sim
      FROM embeddings e, (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY cos_sim DESC, e.vec_id LIMIT {_RRF_TOP}
    """
    return f"""
    WITH bm AS ({TEXT_ORACLES["t_bm25_topdocs"]}),
    bmr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) AS r
      FROM bm
    ),
    ann AS ({cos_topk}),
    annr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r
      FROM ann
    ),
    f AS (
      SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, b.r AS br, a.r AS ar
      FROM bmr b FULL OUTER JOIN annr a ON b.doc_id = a.doc_id
    )
    SELECT doc_id,
           CAST(COALESCE(br, 0) AS BIGINT) AS bm25_rank,
           CAST(COALESCE(ar, 0) AS BIGINT) AS ann_rank,
           COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + br), 0)
             + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + ar), 0) AS rrf_score
    FROM f
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
    """


@query("e_hybrid_rrf", _hybrid_oracle())
def e_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_queries import t_bm25_topdocs

    bm = t_bm25_topdocs(spark, sf_dir)  # 10 rows: doc_id, bm25_score
    wb = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    bmr = bm.select("doc_id", F.row_number().over(wb).alias("br"))

    emb = spread(read(spark, sf_dir, "embeddings"), spark).withColumn(
        "qvec", quantize(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    ann = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )
    wa = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    annr = ann.select("doc_id", F.row_number().over(wa).alias("ar"))

    rrf = F.coalesce(F.lit(1.0) / (_RRF_K + F.col("br")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (_RRF_K + F.col("ar")), F.lit(0.0)
    )
    return (
        bmr.join(annr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("br", F.lit(0)).cast("long").alias("bm25_rank"),
            F.coalesce("ar", F.lit(0)).cast("long").alias("ann_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sketch retrieval: a DATA-INDEPENDENT ±1 random
# projection (Achlioptas 2003) maps 64 → 16 dims, the coarse scan ranks
# in the sketch space (integer dots), the exact rerank touches only the
# top-C pool — the "cheap scan → exact rescore" ANN profile WITHOUT any
# training state (the contrast with Matryoshka: no model cooperation
# needed; with PQ/IVF: no codebooks to maintain under corpus drift). The
# projection matrix derives deterministically from md5 at PLAN BUILD time
# and is embedded as literals in both engines, so the oracle shares it
# textually. 100 TB shape: map-only coarse scoring over a stored sketch
# column (4× less I/O), TakeOrderedAndProject, bounded rerank.
# ---------------------------------------------------------------------------
_JL_DIMS = 16
_JL_POOL = 50
_JL_TOP = 10


def _jl_matrix() -> list[list[int]]:
    from ..functions.hashing import md5_long_py

    return [
        [1 if md5_long_py(f"jl:{i}:{j}") % 2 == 0 else -1 for j in range(64)]
        for i in range(_JL_DIMS)
    ]


def _jl_project(qcol) -> Column:
    rows = _jl_matrix()
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    qcol,
                    F.array(*[F.lit(x) for x in row]),
                    lambda a, b: a * b.cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            for row in rows
        ]
    )


def _jl_project_sql(q: str) -> str:
    rows = _jl_matrix()
    parts = [
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> ({q})[i] * ([{', '.join(str(x) for x in row)}])[i])) AS BIGINT)"
        for row in rows
    ]
    return "[" + ", ".join(parts) + "]"


@query(
    "e_jl_topk",
    f"""
    WITH e AS (
      SELECT vec_id, label, {_QV} AS ev, {_jl_project_sql(_QV)} AS sk
      FROM embeddings
    ),
    q AS (SELECT ev AS qv, sk AS qs FROM e WHERE vec_id = 0),
    coarse AS (
      SELECT e.vec_id, e.label, e.ev, {dot_sql("e.sk", "q.qs")} AS sketch_dot
      FROM e, q WHERE e.vec_id <> 0
      ORDER BY sketch_dot DESC, e.vec_id LIMIT {_JL_POOL}
    )
    SELECT c.vec_id, c.label, c.sketch_dot,
           {cosine_sql("c.ev", "q.qv")} AS cos_sim
    FROM coarse c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_JL_TOP}
    """,
)
def e_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .withColumn("ev", quantize(F.col("embedding")))
        .withColumn("sk", _jl_project(F.col("ev")))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("ev").alias("qv"), F.col("sk").alias("qs")
    )
    coarse = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", "ev", "qv",
            dot(F.col("sk"), F.col("qs")).alias("sketch_dot"),
        )
        .orderBy(F.desc("sketch_dot"), F.asc("vec_id"))
        .limit(_JL_POOL)
    )
    return (
        coarse.select(
            "vec_id", "label", "sketch_dot",
            cosine(F.col("ev"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_JL_TOP)
    )


# recall audit for the JL sketch — same gate as the other indexes
@query(
    "e_jl_recall",
    _recall_sql(ORACLES["e_jl_topk"], 0, _JL_TOP),
)
def e_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_jl_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _JL_TOP),
        _JL_TOP,
    )


# ---------------------------------------------------------------------------
# First principal direction by UNROLLED POWER ITERATION over the gram
# matrix, then the per-vector PC1 projection — the projection stage of a
# PCA/whitening pipeline, done without any driver-side linear algebra
# (the iteration is expressed in both engines, so the oracle certifies
# the numerics, which numpy's eigh could not). All corpus-scale work is
# two scans: the gram aggregation (fixed 64×64 output) and the final
# projection (map-only integer dot against a broadcast 64-vector); each
# iteration is a 4096-row join — O(dims²), corpus-independent. Numeric
# discipline: the matrix–vector product is exact BIGINT (|G|≤2⁴⁰·|v|∞,
# |v|∞ kept ≤ 2²⁰ by max-normalization); the normalization divides
# doubles built from identical integers with identical parenthesization
# in both engines, so every rounding step is bit-identical IEEE — the
# iterate sequence, not just the limit, is cross-engine exact. Sign
# convention fixed by v₀ = 1 (power iteration preserves the sign of the
# dominant component of v₀).
# ---------------------------------------------------------------------------
_PCA_ITERS = 5
_PCA_SCALE = 1048576.0  # 2^20: |v|∞ after each normalization


def _pca_oracle() -> str:
    gram = ORACLES["e_gram_matrix"]
    ctes = [
        f"g AS ({gram})",
        "v0 AS (SELECT unnest(range(1, 65)) AS j, CAST(1 AS BIGINT) AS v)",
    ]
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"u{t} AS (SELECT g.dim_i AS j, CAST(SUM(g.gram * v{t-1}.v) AS BIGINT) AS u "
            f"FROM g JOIN v{t-1} ON g.dim_j = v{t-1}.j GROUP BY g.dim_i)"
        )
        ctes.append(
            f"v{t} AS (SELECT j, CAST(FLOOR((CAST(u AS DOUBLE) / "
            f"CAST((SELECT MAX(ABS(u)) FROM u{t}) AS DOUBLE)) * {_PCA_SCALE}) "
            f"AS BIGINT) AS v FROM u{t})"
        )
    ctes.append(
        f"varr AS (SELECT list(v ORDER BY j) AS va FROM v{_PCA_ITERS})"
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT e.vec_id,
           CAST(list_sum(list_transform(generate_series(1, 64),
                i -> ({_QV})[i] * va[i])) AS BIGINT) AS pc1_proj
    FROM embeddings e, varr
    """


_V0 = "SELECT unnest(range(1, 65)) AS j, CAST(1 AS BIGINT) AS v"


def _gram_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DataFrame holding the 64×64 gram matrix as a nested-array
    column ``G`` (G[i][j] = gram(i+1, j+1)). Re-aggregates e_gram_matrix's
    cell rows — 4096 rows, one micro-exchange — so the whole power
    iteration can run IN-ROW via higher-order array functions: a linear
    chain of Projects over one row. The previous join-per-iteration
    formulation duplicated the child plan at every reference (exponential
    analyzer blowup once PC2's ortho steps doubled the depth) and needed
    cache pins that leaked persisted blocks into the session (round-6
    ADVICE); this shape has no joins, no pins, nothing cached."""
    g = e_gram_matrix(spark, sf_dir)
    rows = g.groupBy("dim_i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_j", "gram"))),
            lambda s: s["gram"],
        ).alias("grow")
    )
    return rows.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_i", "grow"))),
            lambda s: s["grow"],
        ).alias("G")
    )


def _matvec(G, v):
    """u = G·v — exact BIGINT sums, in-row."""
    return F.transform(
        G,
        lambda row: F.aggregate(
            F.zip_with(row, v, lambda g, x: g * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _vnorm(u, m, scale: float):
    """v = floor(u / max|u| · scale) — one IEEE division + multiplication
    per element with fixed parenthesization (bit-identical cross-engine)."""
    return F.transform(
        u,
        lambda x: F.floor((x.cast("double") / m.cast("double")) * F.lit(scale))
        .cast("long"),
    )


def _pc1_cols(df: DataFrame) -> DataFrame:
    """Stack the unrolled PC1 power iteration as columns over the one-row
    gram DataFrame; the converged direction lands in column ``va1``."""
    df = df.withColumn("v", F.array_repeat(F.lit(1).cast("long"), 64))
    for _ in range(_PCA_ITERS):
        df = (
            df.withColumn("u", _matvec(F.col("G"), F.col("v")))
            .withColumn("m", F.array_max(F.transform("u", F.abs)))
            .withColumn("v", _vnorm(F.col("u"), F.col("m"), _PCA_SCALE))
        )
    return df.select(F.col("G"), F.col("v").alias("va1"))


@query("e_pca_projection", _pca_oracle())
def e_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    varr = _pc1_cols(_gram_row(spark, sf_dir)).select(F.col("va1").alias("va"))
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    return emb.crossJoin(F.broadcast(varr)).select(
        "vec_id", dot(F.col("q"), F.col("va")).alias("pc1_proj")
    )


# ---------------------------------------------------------------------------
# Top-2 principal directions: PC1 by the same unrolled power iteration,
# PC2 by PROJECTION-DEFLATED power iteration — after every normalization
# the iterate is re-orthogonalized against the converged PC1 direction p
# (w ← w − (pᵀw/pᵀp)·p), which deflates λ₁ without ever forming the
# deflated matrix G − λ·ppᵀ (whose entries would overflow BIGINT at
# corpus scale). Numeric discipline extends PC1's: every SUM (matvec,
# pᵀw, pᵀp) is exact BIGINT; the ortho step is one IEEE division, one
# multiplication and one subtraction with fixed parenthesization —
# bit-identical cross-engine, so the oracle certifies the entire iterate
# sequence. PC2 iterates normalize at 2¹⁷ (not 2²⁰) so the post-ortho
# magnitude keeps the next matvec comfortably inside BIGINT. Corpus-scale
# work is unchanged from e_pca_projection: ONE gram scan + ONE map-only
# projection against two broadcast 64-vectors; every iteration is an
# in-row array expression over the one-row gram (zero extra jobs/exchanges).
# ---------------------------------------------------------------------------
_PCA2_SCALE = 131072.0  # 2^17: PC2 iterate magnitude after normalization


def _pca2_oracle() -> str:
    # every CTE is MATERIALIZED: DuckDB inlines multi-referenced CTEs by
    # default, which re-expands the gram scan per reference — ~12 copies
    # here exhausts file handles and recomputes exponentially down the
    # iterate chain
    gram = ORACLES["e_gram_matrix"]
    ctes = [f"g AS MATERIALIZED ({gram})", f"p0 AS MATERIALIZED ({_V0})"]
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"pu{t} AS MATERIALIZED (SELECT g.dim_i AS j, CAST(SUM(g.gram * p{t-1}.v) AS BIGINT) AS u "
            f"FROM g JOIN p{t-1} ON g.dim_j = p{t-1}.j GROUP BY g.dim_i)"
        )
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT j, CAST(FLOOR((CAST(u AS DOUBLE) / "
            f"CAST((SELECT MAX(ABS(u)) FROM pu{t}) AS DOUBLE)) * {_PCA_SCALE}) "
            f"AS BIGINT) AS v FROM pu{t})"
        )
    P = f"p{_PCA_ITERS}"
    ctes.append(
        f"qq AS MATERIALIZED (SELECT CAST(SUM(v * v) AS BIGINT) AS q FROM {P})"
    )

    def ortho(src: str, out: str) -> str:
        # out = floor(src.v − (pᵀsrc / pᵀp)·p) — fixed parenthesization
        return (
            f"{out} AS MATERIALIZED (SELECT a.j, CAST(FLOOR(CAST(a.v AS DOUBLE) - "
            f"(CAST((SELECT SUM(x.v * y.v) FROM {src} x JOIN {P} y ON x.j = y.j) AS DOUBLE) / "
            f"CAST((SELECT q FROM qq) AS DOUBLE)) * CAST(b.v AS DOUBLE)) AS BIGINT) AS v "
            f"FROM {src} a JOIN {P} b ON a.j = b.j)"
        )

    ctes.append(
        f"winit AS MATERIALIZED (SELECT unnest(range(1, 65)) AS j, "
        f"CAST({int(_PCA2_SCALE)} AS BIGINT) AS v)"
    )
    ctes.append(ortho("winit", "w0"))
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"wu{t} AS MATERIALIZED (SELECT g.dim_i AS j, CAST(SUM(g.gram * w{t-1}.v) AS BIGINT) AS u "
            f"FROM g JOIN w{t-1} ON g.dim_j = w{t-1}.j GROUP BY g.dim_i)"
        )
        ctes.append(
            f"wn{t} AS MATERIALIZED (SELECT j, CAST(FLOOR((CAST(u AS DOUBLE) / "
            f"CAST((SELECT MAX(ABS(u)) FROM wu{t}) AS DOUBLE)) * {_PCA2_SCALE}) "
            f"AS BIGINT) AS v FROM wu{t})"
        )
        ctes.append(ortho(f"wn{t}", f"w{t}"))
    ctes.append(f"va1 AS (SELECT list(v ORDER BY j) AS va FROM {P})")
    ctes.append(f"va2 AS (SELECT list(v ORDER BY j) AS va FROM w{_PCA_ITERS})")
    return f"""
    WITH {', '.join(ctes)}
    SELECT e.vec_id,
           CAST(list_sum(list_transform(generate_series(1, 64),
                i -> ({_QV})[i] * v1.va[i])) AS BIGINT) AS pc1_proj,
           CAST(list_sum(list_transform(generate_series(1, 64),
                i -> ({_QV})[i] * v2.va[i])) AS BIGINT) AS pc2_proj
    FROM embeddings e, va1 v1, va2 v2
    """


def _ortho(w, p, q):
    """w ← floor(w − (pᵀw/pᵀp)·p) in-row: the dot pᵀw is an exact BIGINT
    fold; each element then takes one IEEE division, multiplication and
    subtraction with fixed parenthesization (bit-identical cross-engine)."""
    t = F.aggregate(
        F.zip_with(p, w, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.zip_with(
        w,
        p,
        lambda wi, pi: F.floor(
            wi.cast("double")
            - (t.cast("double") / q.cast("double")) * pi.cast("double")
        ).cast("long"),
    )


@query("e_pca_top2", _pca2_oracle())
def e_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _pc1_cols(_gram_row(spark, sf_dir)).withColumn(
        "q",
        F.aggregate(
            F.zip_with("va1", "va1", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    df = df.withColumn(
        "w",
        _ortho(
            F.array_repeat(F.lit(int(_PCA2_SCALE)).cast("long"), 64),
            F.col("va1"),
            F.col("q"),
        ),
    )
    for _ in range(_PCA_ITERS):
        df = (
            df.withColumn("u2", _matvec(F.col("G"), F.col("w")))
            .withColumn("m2", F.array_max(F.transform("u2", F.abs)))
            .withColumn("w", _vnorm(F.col("u2"), F.col("m2"), _PCA2_SCALE))
            .withColumn("w", _ortho(F.col("w"), F.col("va1"), F.col("q")))
        )
    dirs = df.select(F.col("va1"), F.col("w").alias("va2"))
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    return emb.crossJoin(F.broadcast(dirs)).select(
        "vec_id",
        dot(F.col("q"), F.col("va1")).alias("pc1_proj"),
        dot(F.col("q"), F.col("va2")).alias("pc2_proj"),
    )


# ---------------------------------------------------------------------------
# Per-cluster outliers (anti-prototypicality): the embedding-space pruning
# signal dual to SemDeDup — SemDeDup drops near-duplicate vectors close to
# each other inside a cluster; this surfaces the vectors FARTHEST from
# their centroid (noise, mislabeled, or out-of-distribution items a
# curation pass reviews or drops). Rides the same unrolled Lloyd's plan
# as e_kmeans_clusters (exact BIGINT quantized distances, deterministic
# (dist, cid) assignment tie-break); the outlier rank is one per-cluster
# window over the final assignment — narrow keyed shuffle, top-k per cid,
# no extra corpus pass beyond the shared assignment scan.
# ---------------------------------------------------------------------------
_OUTLIER_K = 5


def _cluster_outliers_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes

    return f"""
    WITH {kmeans_oracle_ctes(_QV)}
    SELECT cid AS cluster_id, vec_id, CAST(dist AS BIGINT) AS dist_q, rk
    FROM (
      SELECT cid, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY dist DESC, vec_id) AS rk
      FROM a{KM_ITERS}
    ) WHERE rk <= {_OUTLIER_K}
    """


@query("e_cluster_outliers", _cluster_outliers_oracle())
def e_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.clustering import kmeans_plan

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    final = kmeans_plan(emb)
    w = Window.partitionBy("cid").orderBy(F.desc("dist"), "vec_id")
    return (
        final.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _OUTLIER_K)
        .select(
            F.col("cid").alias("cluster_id"),
            "vec_id",
            F.col("dist").cast("long").alias("dist_q"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# SIMPLIFIED SILHOUETTE (cluster-quality audit over the shared Lloyd's
# model): per point, a = distance to OWN centroid (the assignment's dist),
# b = min distance to any OTHER centroid; the classic silhouette replaces
# centroid distances with mean pairwise point distances (O(N²) — audit
# only); the centroid form is the O(N·k) production variant (as in
# scikit-learn's `silhouette via centroids` guidance for large N). To stay
# hash-exact across engines the per-cluster score is the RATIO OF EXACT
# SUMS (Σ(b−a)) / (Σ max(a,b)) — one division of BIGINTs, no
# order-dependent accumulation of per-point doubles. n_better counts
# points strictly closer to their own centroid than to any rival
# (b > a — the per-point silhouette's sign). Shape: the k-means chain +
# ONE in-row fold over the broadcast centroid array (no extra corpus
# exchange — b is computed where the row already lives) + a k-key agg.
# ---------------------------------------------------------------------------
def _silhouette_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes, sq_dist_sql

    return f"""
    WITH {kmeans_oracle_ctes(_QV)},
    ab AS (
      SELECT a.vec_id, a.cid, a.dist AS a_d,
             MIN({sq_dist_sql("a.q", "s.c")}) AS b_d
      FROM a{KM_ITERS} a JOIN c{KM_ITERS - 1} s ON s.cid <> a.cid
      GROUP BY a.vec_id, a.cid, a.dist
    )
    SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a_d) AS BIGINT) AS sum_a,
           CAST(SUM(b_d) AS BIGINT) AS sum_b,
           CAST(SUM(GREATEST(a_d, b_d)) AS BIGINT) AS sum_max,
           CAST(SUM(CASE WHEN b_d > a_d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_better,
           CASE WHEN SUM(GREATEST(a_d, b_d)) = 0 THEN NULL
                ELSE CAST(SUM(b_d) - SUM(a_d) AS DOUBLE)
                     / CAST(SUM(GREATEST(a_d, b_d)) AS DOUBLE)
           END AS sil_proxy
    FROM ab GROUP BY cid
    """


@query("e_silhouette", _silhouette_oracle())
def e_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import KM_ITERS, kmeans_fit, sq_dist

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    cent, final = kmeans_fit(emb)
    cent_arr = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("_cents")
    )
    b_d = F.array_min(
        F.transform(
            F.filter(F.col("_cents"), lambda s: s["cid"] != F.col("cid")),
            lambda s: sq_dist(F.col("q"), s["c"]),
        )
    )
    ab = final.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "cid", F.col("dist").alias("a_d"), b_d.alias("b_d")
    )
    return ab.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n"),
        F.sum("a_d").cast("long").alias("sum_a"),
        F.sum("b_d").cast("long").alias("sum_b"),
        F.sum(F.greatest("a_d", "b_d")).cast("long").alias("sum_max"),
        F.sum(F.when(F.col("b_d") > F.col("a_d"), 1).otherwise(0))
        .cast("long")
        .alias("n_better"),
        F.when(F.sum(F.greatest("a_d", "b_d")) == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.sum("b_d") - F.sum("a_d")).cast("double")
            / F.sum(F.greatest("a_d", "b_d")).cast("double")
        )
        .alias("sil_proxy"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding health (dead/collapsed-dimension audit): exact
# integer mean/variance moments per coordinate. A projection head that
# collapses dimensions (or an ingestion bug zeroing a coordinate) is
# invisible to cosine top-k quality until recall quietly degrades; this
# is the one-scan audit that catches it. Shape: posexplode to (pos, v) →
# ONE 64-key aggregation (map-side combine does almost all the work — the
# exchange carries 64 rows per task); variance numerator n·Σv²−(Σv)²
# stays an exact BIGINT at gate scales (the 100 TB path lifts the two
# moment sums to DECIMAL(38,0) unchanged in shape).
# ---------------------------------------------------------------------------
@query(
    "e_dim_variance",
    f"""
    WITH expl AS (
      SELECT i.pos, ({_QV})[i.pos + 1] AS v
      FROM embeddings,
           (SELECT UNNEST(generate_series(0, 63)) AS pos) i
    ),
    mo AS (
      SELECT pos, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS sx,
             CAST(SUM(v * v) AS BIGINT) AS sxx
      FROM expl GROUP BY pos
    )
    SELECT pos AS dim, n,
           CAST(n * sxx - sx * sx AS BIGINT) AS var_num,
           CAST(sx AS DOUBLE) / n AS mean_q,
           CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
             AS variance_q,
           (n * sxx - sx * sx) = 0 AS is_dead
    FROM mo
    """,
)
def e_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        quantize(F.col("embedding")).alias("q")
    )
    mo = (
        emb.select(F.posexplode("q").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").cast("long").alias("sx"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("sxx"),
        )
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mo.select(
        F.col("pos").cast("long").alias("dim"),
        "n",
        var_num.alias("var_num"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_q"),
        (var_num.cast("double") / (F.col("n").cast("double") * F.col("n")))
        .alias("variance_q"),
        (var_num == 0).alias("is_dead"),
    )


# ---------------------------------------------------------------------------
# GREEDY K-CENTER CORESET (farthest-point sampling, Gonzalez 1985): the
# diversity-sampling primitive — pick the point farthest from everything
# selected so far, k times; the selected set 2-approximates the optimal
# k-center cover, and the radius after each pick is the coverage
# guarantee a curation pipeline reports. Four centers unrolled as ONE
# static plan: seed = min vec_id; each round is a map-only distance
# update (exact integer squared L2 over quantized vectors, broadcast
# one-row center) + a TakeOrderedAndProject argmax (d DESC, vec_id ASC —
# deterministic ties). The selection row of round k+1 doubles as the
# round-k radius (max of the running min-distance), so 4 centers cost 4
# argmax passes + 1 final max. 100 TB: FPS is inherently k corpus
# passes; each pass here is map-only + top-1 — nothing shuffles but one
# row per round.
# ---------------------------------------------------------------------------
_KCENTER_K = 4


def _kcenter_oracle() -> str:
    qv = quantize_sql("embedding")
    return f"""
    WITH e AS (SELECT vec_id, {qv} AS qv FROM embeddings),
    c1 AS (SELECT vec_id AS cid1, qv AS cv1 FROM e ORDER BY vec_id LIMIT 1),
    s1 AS (SELECT e.vec_id, e.qv, {dist2_sql("e.qv", "c1.cv1")} AS d
           FROM e CROSS JOIN c1),
    c2 AS (SELECT vec_id AS cid2, qv AS cv2, d AS r1 FROM s1
           ORDER BY d DESC, vec_id LIMIT 1),
    s2 AS (SELECT s1.vec_id, s1.qv,
                  LEAST(s1.d, {dist2_sql("s1.qv", "c2.cv2")}) AS d
           FROM s1 CROSS JOIN c2),
    c3 AS (SELECT vec_id AS cid3, qv AS cv3, d AS r2 FROM s2
           ORDER BY d DESC, vec_id LIMIT 1),
    s3 AS (SELECT s2.vec_id, s2.qv,
                  LEAST(s2.d, {dist2_sql("s2.qv", "c3.cv3")}) AS d
           FROM s2 CROSS JOIN c3),
    c4 AS (SELECT vec_id AS cid4, qv AS cv4, d AS r3 FROM s3
           ORDER BY d DESC, vec_id LIMIT 1),
    s4 AS (SELECT LEAST(s3.d, {dist2_sql("s3.qv", "c4.cv4")}) AS d
           FROM s3 CROSS JOIN c4),
    r4 AS (SELECT MAX(d) AS r4 FROM s4)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS sel_round, (SELECT cid1 FROM c1) AS center_id,
             (SELECT r1 FROM c2) AS radius_sq
      UNION ALL
      SELECT 2, (SELECT cid2 FROM c2), (SELECT r2 FROM c3)
      UNION ALL
      SELECT 3, (SELECT cid3 FROM c3), (SELECT r3 FROM c4)
      UNION ALL
      SELECT 4, (SELECT cid4 FROM c4), (SELECT r4 FROM r4)
    )
    -- empty-corpus parity: the Spark side's constant-key groupBy emits no
    -- groups on an empty table, so the scalar-subquery rows must vanish too
    WHERE EXISTS (SELECT 1 FROM e)
    """


def _fps_chain(emb: DataFrame):
    """Unrolled Gonzalez FPS selection: returns ``(c4, s3)`` — ``c4`` the
    ONE-ROW selection frame (cid1..4, cv1..4, r1..r3), ``s3`` the running
    min-distance table after three updates. Shared by e_kcenter_coreset
    (which finishes with the r4 aggregation) and e_kcenter_assign (which
    audits the selection against a direct nearest-center assignment).

    Lazy persist (the t_kcore_peel discipline) on every running distance
    table: the unrolled selection chain references each s_k from BOTH the
    next round's argmax and the next distance update — without the pin the
    lineage re-derives ~2^k corpus scans (measured 16 FileScans unpinned at
    k=4 vs 1 pinned); at 100 TB the persisted (vec_id, qv, dmin) table IS
    the state real FPS maintains per pass."""
    c1 = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("cid1"), F.col("qv").alias("cv1")
    )
    s1 = emb.crossJoin(F.broadcast(c1)).select(
        "vec_id", "qv", "cid1", "cv1",
        dist2(F.col("qv"), F.col("cv1")).alias("d"),
    ).persist()
    c2 = s1.orderBy(F.desc("d"), "vec_id").limit(1).select(
        "cid1", "cv1",
        F.col("vec_id").alias("cid2"),
        F.col("qv").alias("cv2"),
        F.col("d").alias("r1"),
    )
    s2 = s1.select("vec_id", "qv", "d").crossJoin(F.broadcast(c2)).select(
        "vec_id", "qv", "cid1", "cv1", "cid2", "cv2", "r1",
        F.least(F.col("d"), dist2(F.col("qv"), F.col("cv2"))).alias("d"),
    ).persist()
    c3 = s2.orderBy(F.desc("d"), "vec_id").limit(1).select(
        "cid1", "cv1", "cid2", "cv2", "r1",
        F.col("vec_id").alias("cid3"),
        F.col("qv").alias("cv3"),
        F.col("d").alias("r2"),
    )
    s3 = s2.select("vec_id", "qv", "d").crossJoin(F.broadcast(c3)).select(
        "vec_id", "qv", "cid1", "cv1", "cid2", "cv2", "cid3", "cv3",
        "r1", "r2",
        F.least(F.col("d"), dist2(F.col("qv"), F.col("cv3"))).alias("d"),
    ).persist()
    c4 = s3.orderBy(F.desc("d"), "vec_id").limit(1).select(
        "cid1", "cv1", "cid2", "cv2", "cid3", "cv3", "r1", "r2",
        F.col("vec_id").alias("cid4"),
        F.col("qv").alias("cv4"),
        F.col("d").alias("r3"),
    )
    return c4, s3


@query("e_kcenter_coreset", _kcenter_oracle())
def e_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    c4, s3 = _fps_chain(emb)
    s4 = s3.select("vec_id", "qv", "d").crossJoin(F.broadcast(c4)).select(
        "cid1", "cid2", "cid3", "cid4", "r1", "r2", "r3",
        F.least(F.col("d"), dist2(F.col("qv"), F.col("cv4"))).alias("d"),
    )
    one = s4.groupBy(
        "cid1", "cid2", "cid3", "cid4", "r1", "r2", "r3"
    ).agg(F.max("d").alias("r4"))
    picks = F.array(
        *[
            F.struct(
                F.lit(k + 1).cast("long").alias("sel_round"),
                F.col(f"cid{k + 1}").alias("center_id"),
                F.col(f"r{k + 1}").alias("radius_sq"),
            )
            for k in range(_KCENTER_K)
        ]
    )
    return one.select(F.explode(picks).alias("p")).select(
        "p.sel_round", "p.center_id", "p.radius_sq"
    )


# ---------------------------------------------------------------------------
# K-CENTER ASSIGNMENT AUDIT: assign EVERY vector to its nearest selected
# center (composing the zero-shuffle nearest_pivot fold over the 4-row
# broadcast center table) and certify the two Gonzalez invariants that
# make the coreset trustworthy:
#  - covered:  per-center max assigned distance <= the covering radius
#    (the global max of the direct assignment — which must agree with the
#    chain's running-min r4, an equivalence between the incremental and
#    the direct formulation);
#  - sep_ok:   min pairwise center separation >= the covering radius —
#    the standard 2-approximation witness (each center was the farthest
#    point when selected, so inter-center distances dominate the final
#    radius; with the triangle inequality this pins r <= 2*OPT).
# All distances exact integer L2² over quantized vectors. Shape: the
# selection chain (k map-only passes) + ONE corpus pass for the fold
# assignment + a 4-key aggregation; radius and separation ride broadcast
# one-row crossJoins.
# ---------------------------------------------------------------------------
def _kcenter_assign_oracle() -> str:
    qv = quantize_sql("embedding")
    return f"""
    WITH e AS (SELECT vec_id, {qv} AS qv FROM embeddings),
    c1 AS (SELECT vec_id AS cid1, qv AS cv1 FROM e ORDER BY vec_id LIMIT 1),
    s1 AS (SELECT e.vec_id, e.qv, {dist2_sql("e.qv", "c1.cv1")} AS d
           FROM e CROSS JOIN c1),
    c2 AS (SELECT vec_id AS cid2, qv AS cv2 FROM s1
           ORDER BY d DESC, vec_id LIMIT 1),
    s2 AS (SELECT s1.vec_id, s1.qv,
                  LEAST(s1.d, {dist2_sql("s1.qv", "c2.cv2")}) AS d
           FROM s1 CROSS JOIN c2),
    c3 AS (SELECT vec_id AS cid3, qv AS cv3 FROM s2
           ORDER BY d DESC, vec_id LIMIT 1),
    s3 AS (SELECT s2.vec_id, s2.qv,
                  LEAST(s2.d, {dist2_sql("s2.qv", "c3.cv3")}) AS d
           FROM s2 CROSS JOIN c3),
    c4 AS (SELECT vec_id AS cid4, qv AS cv4 FROM s3
           ORDER BY d DESC, vec_id LIMIT 1),
    cents AS (
      SELECT 1 AS sel_round, cid1 AS center_id, cv1 AS cv FROM c1
      UNION ALL SELECT 2, cid2, cv2 FROM c2
      UNION ALL SELECT 3, cid3, cv3 FROM c3
      UNION ALL SELECT 4, cid4, cv4 FROM c4
    ),
    ad AS (
      SELECT e.vec_id, c.sel_round, c.center_id,
             {dist2_sql("e.qv", "c.cv")} AS d
      FROM e CROSS JOIN cents c
    ),
    best AS (
      SELECT vec_id, sel_round, center_id, d FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY d, sel_round) AS rn
        FROM ad
      ) WHERE rn = 1
    ),
    rad AS (SELECT MAX(d) AS radius_sq FROM best),
    sep AS (SELECT MIN({dist2_sql("a.cv", "b.cv")}) AS min_center_sep
            FROM cents a JOIN cents b ON a.sel_round < b.sel_round)
    SELECT b.sel_round, b.center_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(MAX(b.d) AS BIGINT) AS max_d2,
           CAST(rad.radius_sq AS BIGINT) AS radius_sq,
           MAX(b.d) <= rad.radius_sq AS covered,
           CAST(sep.min_center_sep AS BIGINT) AS min_center_sep,
           sep.min_center_sep >= rad.radius_sq AS sep_ok
    FROM best b CROSS JOIN rad CROSS JOIN sep
    GROUP BY b.sel_round, b.center_id, rad.radius_sq, sep.min_center_sep
    """


@query("e_kcenter_assign", _kcenter_assign_oracle())
def e_kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    c4, _ = _fps_chain(emb)
    cents = c4.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k + 1).cast("long").alias("sel_round"),
                        F.col(f"cid{k + 1}").alias("center_id"),
                        F.col(f"cv{k + 1}").alias("cv"),
                    )
                    for k in range(_KCENTER_K)
                ]
            )
        ).alias("p")
    ).select("p.sel_round", "p.center_id", "p.cv")
    # nearest_pivot's sorted-fold strict < breaks distance ties to the
    # smallest pid — pid := sel_round, matching the oracle's (d, sel_round)
    piv = cents.select(
        F.col("sel_round").alias("pid"), F.col("cv").alias("pv")
    )
    assigned = nearest_pivot(emb, piv, vec_col="qv", out_col="pid").join(
        F.broadcast(cents.withColumnRenamed("sel_round", "pid")), "pid"
    ).select(
        "vec_id",
        F.col("pid").alias("sel_round"),
        "center_id",
        dist2(F.col("qv"), F.col("cv")).alias("d"),
    ).persist()
    rad = assigned.agg(F.max("d").alias("radius_sq"))
    pair_d = [
        dist2(F.col(f"cv{i + 1}"), F.col(f"cv{j + 1}"))
        for i in range(_KCENTER_K)
        for j in range(i + 1, _KCENTER_K)
    ]
    sep = c4.select(F.least(*pair_d).alias("min_center_sep"))
    return (
        assigned.groupBy("sel_round", "center_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.max("d").alias("max_d2"),
        )
        .crossJoin(F.broadcast(rad))
        .crossJoin(F.broadcast(sep))
        .select(
            "sel_round",
            "center_id",
            "n_assigned",
            "max_d2",
            "radius_sq",
            (F.col("max_d2") <= F.col("radius_sq")).alias("covered"),
            "min_center_sep",
            (F.col("min_center_sep") >= F.col("radius_sq")).alias("sep_ok"),
        )
    )

# ---------------------------------------------------------------------------
# MMR DIVERSIFIED TOP-K (maximal marginal relevance, Carbonell & Goldstein
# 1998): retrieval that trades relevance against redundancy — pick the
# candidate maximizing lambda*rel - (1-lambda)*max-sim-to-selected, k
# times. With lambda = 1/2 the doubled objective stays in the INTEGER
# domain: mmr_score2x = rel - max_sim, both exact integer dots over
# quantized vectors. Candidate generation is the corpus-scale stage (one
# map-only exact-dot pass + TakeOrderedAndProject top-16, the e_mips
# shape); the 4-round selection then unrolls over the PINNED 16-row pool
# exactly like the FPS chain (running-max similarity instead of running-
# min distance) — selection never rescans the corpus. Ties: vec_id ASC.
# ---------------------------------------------------------------------------
_MMR_POOL = 16
_MMR_K = 4


def _mmr_oracle() -> str:
    parts = [
        f"e AS (SELECT vec_id, {_QV} AS qv FROM embeddings)",
        "q AS (SELECT qv AS query_v FROM e WHERE vec_id = 1)",
        f"""cand AS (
          SELECT e.vec_id, e.qv, {dot_sql("e.qv", "q.query_v")} AS rel
          FROM e CROSS JOIN q WHERE e.vec_id <> 1
          ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL})""",
        """m1 AS (SELECT vec_id AS sid1, qv AS sv1, rel AS rel1,
                        rel AS mmr1
                 FROM cand ORDER BY rel DESC, vec_id LIMIT 1)""",
    ]
    prev_t = "cand"
    for k in range(2, _MMR_K + 1):
        prev_m = f"m{k - 1}"
        sim = dot_sql("c.qv", f"{prev_m}.sv{k - 1}")
        msim = f"GREATEST(c.msim, {sim})" if k > 2 else sim
        parts.append(
            f"""t{k - 1} AS (
              SELECT c.vec_id, c.qv, c.rel, {msim} AS msim
              FROM {prev_t} c CROSS JOIN {prev_m}
              WHERE c.vec_id <> {prev_m}.sid{k - 1})"""
        )
        parts.append(
            f"""m{k} AS (
              SELECT vec_id AS sid{k}, qv AS sv{k}, rel AS rel{k},
                     rel - msim AS mmr{k}
              FROM t{k - 1} ORDER BY rel - msim DESC, vec_id LIMIT 1)"""
        )
        prev_t = f"t{k - 1}"
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS sel_round, "
        f"(SELECT sid{k} FROM m{k}) AS vec_id, "
        f"(SELECT rel{k} FROM m{k}) AS rel, "
        f"(SELECT mmr{k} FROM m{k}) AS mmr_score2x"
        for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + ",\n".join(parts) + f"\n    SELECT * FROM ({rows})"
        "\n    WHERE EXISTS (SELECT 1 FROM cand)"
    )


@query("e_mmr_topk", _mmr_oracle())
def e_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    q = (
        emb.filter(F.col("vec_id") == 1)
        .select(F.col("qv").alias("query_v"))
        .persist()  # 1-row query vector: read by the pool scan only
    )
    cand = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "qv", dot(F.col("qv"), F.col("query_v")).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_POOL)
        .persist()  # the 16-row pool: every selection round reads it
    )
    m = cand.orderBy(F.desc("rel"), "vec_id").limit(1).select(
        F.col("vec_id").alias("sid1"),
        F.col("qv").alias("sv1"),
        F.col("rel").alias("rel1"),
        F.col("rel").alias("mmr1"),
    ).persist()
    t = cand
    for k in range(2, _MMR_K + 1):
        prev = k - 1
        # every per-round table is pinned (pool-sized or one row): the
        # unrolled chain references t_k and m_k from two consumers each,
        # and unpinned lineage re-derives ~2^k corpus scans — the same
        # cache discipline as the FPS chain (measured 42 FileScans
        # unpinned at k=4 vs 1 pinned)
        t = (
            t.crossJoin(F.broadcast(m.select(f"sid{prev}", f"sv{prev}")))
            .filter(F.col("vec_id") != F.col(f"sid{prev}"))
            .withColumn(
                "msim",
                F.greatest(F.col("msim"), dot(F.col("qv"), F.col(f"sv{prev}")))
                if k > 2
                else dot(F.col("qv"), F.col(f"sv{prev}")),
            )
            .select("vec_id", "qv", "rel", "msim")
            .persist()
        )
        sel = (
            t.orderBy(F.desc(F.col("rel") - F.col("msim")), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias(f"sid{k}"),
                F.col("qv").alias(f"sv{k}"),
                F.col("rel").alias(f"rel{k}"),
                (F.col("rel") - F.col("msim")).alias(f"mmr{k}"),
            )
        )
        m = m.crossJoin(sel).persist()
    picks = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("sel_round"),
                F.col(f"sid{k}").alias("vec_id"),
                F.col(f"rel{k}").alias("rel"),
                F.col(f"mmr{k}").alias("mmr_score2x"),
            )
            for k in range(1, _MMR_K + 1)
        ]
    )
    return m.select(F.explode(picks).alias("p")).select(
        "p.sel_round", "p.vec_id", "p.rel", "p.mmr_score2x"
    )


# ---------------------------------------------------------------------------
# CLUSTERING STABILITY (Rand index between two independent seedings): run
# the SAME unrolled Lloyd's chain from two deterministic seed hashes and
# pair-count agreement — the standard "is this clustering real or seed
# noise" audit before anyone trusts cluster-derived curation decisions
# (SemDeDup prunes, outlier flags). Pair counts come from the k×k
# CONTINGENCY table, never from materialized pairs: both_same =
# Σ C(n_ij,2), marginals give each side's same-cluster mass, and
# rand = (C(n,2) + 2·both_same − a_same − b_same) / C(n,2) — all exact
# BIGINTs at gate scale (the 100 TB lift is DECIMAL on the four pair
# sums, shape unchanged). Shape: two Lloyd's chains share the corpus
# scan pattern; ONE vec_id join builds the contingency table; everything
# after runs on k² rows.
# ---------------------------------------------------------------------------
def _rand_stability_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes

    return f"""
    WITH {kmeans_oracle_ctes(_QV)},
    {kmeans_oracle_ctes(_QV, salt="km2:", prefix="s2_")},
    cont AS (
      SELECT a.cid AS cid_a, b.cid AS cid_b, CAST(count(*) AS BIGINT) AS n_ij
      FROM a{KM_ITERS} a JOIN s2_a{KM_ITERS} b USING (vec_id)
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n,
                   CAST(SUM(n_ij * (n_ij - 1) // 2) AS BIGINT) AS both_same
            FROM cont),
    ma AS (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS a_same
           FROM (SELECT SUM(n_ij) AS s FROM cont GROUP BY cid_a)),
    mb AS (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS b_same
           FROM (SELECT SUM(n_ij) AS s FROM cont GROUP BY cid_b))
    SELECT n,
           CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
           both_same, a_same, b_same,
           CASE WHEN n < 2 THEN NULL
                ELSE CAST(n * (n - 1) // 2 + 2 * both_same - a_same - b_same
                          AS DOUBLE) / CAST(n * (n - 1) // 2 AS DOUBLE)
           END AS rand_index
    FROM tot CROSS JOIN ma CROSS JOIN mb
    """


@query("e_rand_stability", _rand_stability_oracle())
def e_rand_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_plan

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    a = kmeans_plan(emb).select("vec_id", F.col("cid").alias("cid_a"))
    b = kmeans_plan(emb, salt="km2:").select("vec_id", F.col("cid").alias("cid_b"))
    cont = (
        a.join(b, "vec_id")
        .groupBy("cid_a", "cid_b")
        .agg(F.count("*").cast("long").alias("n_ij"))
        .persist()  # k×k rows; three aggregates read it
    )
    tot = cont.agg(
        F.sum("n_ij").cast("long").alias("n"),
        F.expr("CAST(sum(n_ij * (n_ij - 1) div 2) AS BIGINT)").alias(
            "both_same"
        ),
    )
    ma = (
        cont.groupBy("cid_a")
        .agg(F.sum("n_ij").alias("s"))
        .agg(F.expr("CAST(sum(s * (s - 1) div 2) AS BIGINT)").alias("a_same"))
    )
    mb = (
        cont.groupBy("cid_b")
        .agg(F.sum("n_ij").alias("s"))
        .agg(F.expr("CAST(sum(s * (s - 1) div 2) AS BIGINT)").alias("b_same"))
    )
    n_pairs = F.expr("n * (n - 1) div 2")
    return (
        tot.crossJoin(F.broadcast(ma))
        .crossJoin(F.broadcast(mb))
        .select(
            "n",
            n_pairs.cast("long").alias("n_pairs"),
            "both_same",
            "a_same",
            "b_same",
            F.when(F.col("n") < 2, F.lit(None).cast("double"))
            .otherwise(
                (
                    n_pairs
                    + 2 * F.col("both_same")
                    - F.col("a_same")
                    - F.col("b_same")
                ).cast("double")
                / n_pairs.cast("double")
            )
            .alias("rand_index"),
        )
    )

# ---------------------------------------------------------------------------
# IVF NPROBE TUNING CURVE: recall@10 of the probed-list search at
# nprobe ∈ {1, 2, 4} against the exact cosine ground truth — the
# latency/quality trade-off evidence an index operator reads before
# picking a probe budget (each nprobe step touches ~nprobe/nlist of the
# corpus; this query quantifies what that buys). Composes the e_ivf_topk
# machinery: ONE pivot assignment (zero-shuffle nearest_pivot fold,
# pinned — three probe depths read the same list table), one query-side
# pivot ranking to depth 4, one exact ground-truth scan; per depth a
# probed-list semi-join + TakeOrderedAndProject top-10 and a bounded
# intersection count.
# ---------------------------------------------------------------------------
_CURVE_PROBES = (1, 2, 4)
_CURVE_TOP = 10


def _nprobe_curve_oracle() -> str:
    probes_sql = []
    for np_ in _CURVE_PROBES:
        probes_sql.append(f"""ap{np_} AS (
          SELECT c.vec_id FROM lists c
          JOIN (SELECT pid FROM qprobe WHERE rn <= {np_}) USING (pid)
          CROSS JOIN q
          WHERE c.vec_id <> 0
          ORDER BY {cosine_sql("c.qvec", "q.qv")} DESC, c.vec_id
          LIMIT {_CURVE_TOP})""")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({np_} AS BIGINT) AS nprobe, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM ap{np_} JOIN truth USING (vec_id)) AS hits, "
        f"(SELECT CAST(count(*) AS DOUBLE) / {_CURVE_TOP} "
        f" FROM ap{np_} JOIN truth USING (vec_id)) AS recall_at_10"
        for np_ in _CURVE_PROBES
    )
    return f"""
    WITH e AS (SELECT vec_id, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, qvec, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid, rn FROM assign WHERE vec_id = 0),
    q AS (SELECT qvec AS qv FROM e WHERE vec_id = 0),
    truth AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY {cosine_sql("e.qvec", "q.qv")} DESC, e.vec_id) AS rk
        FROM e CROSS JOIN q WHERE e.vec_id <> 0
      ) WHERE rk <= {_CURVE_TOP}),
    {",".join(probes_sql)}
    SELECT * FROM ({rows})
    """


@query("e_ivf_nprobe_curve", _nprobe_curve_oracle())
def e_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dist2, nearest_pivot

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    lists = nearest_pivot(emb, piv).select("vec_id", "qvec", "pid").persist()
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("qvec"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(_CURVE_PROBES))
        .persist()
    )
    truth = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cs"))
        .orderBy(F.desc("cs"), "vec_id")
        .limit(_CURVE_TOP)
        .select("vec_id")
        .persist()
    )
    out = None
    for np_ in _CURVE_PROBES:
        ap = (
            lists.join(
                F.broadcast(qprobe.filter(F.col("rn") <= np_).select("pid")),
                "pid",
                "left_semi",
            )
            .filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", cosine(F.col("qvec"), F.col("qv")).alias("cs"))
            .orderBy(F.desc("cs"), "vec_id")
            .limit(_CURVE_TOP)
            .select("vec_id")
        )
        row = ap.join(truth, "vec_id", "left_semi").agg(
            F.lit(np_).cast("long").alias("nprobe"),
            F.count("*").alias("hits"),
            (F.count("*").cast("double") / _CURVE_TOP).alias("recall_at_10"),
        ).select("nprobe", "hits", "recall_at_10")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# CENTROID SHIFT (Lloyd's convergence audit): how far each centroid moved
# in the LAST update — exact integer squared L2 between the final and
# previous centroid tables, joined with the final cluster sizes. The "did
# the unrolled iteration budget actually converge" evidence that decides
# whether KM_ITERS must grow; a cluster with shift_sq = 0 is fixed-point.
# Shape: the shared Lloyd's chain; the audit itself joins two k-row
# tables and one k-key size aggregation — nothing corpus-scale beyond the
# chain it audits.
# ---------------------------------------------------------------------------
def _centroid_shift_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_oracle_ctes, sq_dist_sql

    prev = f"c{KM_ITERS - 2}" if KM_ITERS >= 2 else "seeds0"
    return f"""
    WITH {kmeans_oracle_ctes(_QV)},
    sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
              FROM a{KM_ITERS} GROUP BY cid)
    SELECT f.cid AS cluster_id, s.n,
           {sq_dist_sql("f.c", "p.c")} AS shift_sq,
           {sq_dist_sql("f.c", "p.c")} = 0 AS converged
    FROM c{KM_ITERS - 1} f
    JOIN {prev} p USING (cid)
    JOIN sizes s ON s.cid = f.cid
    """


@query("e_centroid_shift", _centroid_shift_oracle())
def e_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import (
        KM_ITERS,
        kmeans_assign,
        kmeans_seeds,
        kmeans_update,
        sq_dist,
    )

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    cent = kmeans_seeds(emb)
    prev = cent
    for _ in range(KM_ITERS):
        prev = cent
        cent = kmeans_update(kmeans_assign(emb, cent))
    sizes = kmeans_assign(emb, cent).groupBy("cid").agg(
        F.count("*").alias("n")
    )
    shift = sq_dist(F.col("fc"), F.col("pc"))
    return (
        cent.select("cid", F.col("c").alias("fc"))
        .join(prev.select("cid", F.col("c").alias("pc")), "cid")
        .join(sizes, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n",
            shift.alias("shift_sq"),
            (shift == 0).alias("converged"),
        )
    )

# ---------------------------------------------------------------------------
# PQ DISTORTION AUDIT: the quantization error the PQ index actually
# carries — per subspace, the exact integer squared-L2 between each
# subvector and its assigned codeword (the `dist` the assignment already
# computes), aggregated to (n, total, max, mean). Recall audits measure
# end-to-end ranking damage; this isolates WHERE the damage originates
# (a subspace with outsized distortion is the one to re-train or split).
# Shape: the shared grouped-Lloyd's training chain; the audit itself is
# ONE 8-key aggregation over the code table — nothing new is corpus-scale.
# ---------------------------------------------------------------------------
def _pq_distortion_oracle() -> str:
    from ..operators.clustering import pq_oracle_ctes

    return f"""
    WITH {pq_oracle_ctes(_QV)}
    SELECT sub,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dist) AS BIGINT) AS total_err,
           CAST(MAX(dist) AS BIGINT) AS max_err,
           CAST(SUM(dist) AS DOUBLE) / COUNT(*) AS mean_err
    FROM pq_codes GROUP BY sub
    """


@query("e_pq_distortion", _pq_distortion_oracle())
def e_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    subs = pq_subvectors(full).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, _cb = pq_train(subs)
    return codes.groupBy("sub").agg(
        F.count("*").alias("n"),
        F.sum("dist").cast("long").alias("total_err"),
        F.max("dist").cast("long").alias("max_err"),
        (F.sum("dist").cast("double") / F.count("*")).alias("mean_err"),
    )

# ---------------------------------------------------------------------------
# EMBEDDING NORM HISTOGRAM (ingestion-health audit): the distribution of
# squared L2 norms over floor-log2 buckets — an embedding table that is
# supposed to be L2-normalized shows ONE bucket; stragglers reveal an
# unnormalized ingestion batch or a broken projection head before cosine
# quality quietly degrades (the companion to e_dim_variance's per-
# coordinate view). Exact integer norms over quantized vectors; bucket =
# length(bin(norm²))−1; bounded ≤64-bucket census in one scan.
# ---------------------------------------------------------------------------
@query(
    "e_norm_histogram",
    f"""
    WITH n AS (
      SELECT vec_id, {dist2_sql(_QV, "list_transform(" + _QV + ", x -> 0)")}
               AS norm_sq
      FROM embeddings
    )
    SELECT CAST(length(bin(CAST(norm_sq AS BIGINT))) - 1 AS BIGINT)
             AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(MIN(norm_sq) AS BIGINT) AS min_norm_sq,
           CAST(MAX(norm_sq) AS BIGINT) AS max_norm_sq
    FROM n WHERE norm_sq > 0 GROUP BY 1
    """,
)
def e_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        quantize(F.col("embedding")).alias("qv")
    )
    norm = dot(F.col("qv"), F.col("qv"))
    n = emb.select(norm.alias("norm_sq")).filter(F.col("norm_sq") > 0)
    return n.groupBy(
        (F.length(F.bin(F.col("norm_sq"))) - 1).cast("long").alias("log2_bucket")
    ).agg(
        F.count("*").alias("n_vectors"),
        F.min("norm_sq").cast("long").alias("min_norm_sq"),
        F.max("norm_sq").cast("long").alias("max_norm_sq"),
    )


# ---------------------------------------------------------------------------
# OPQ-style rotated PQ (round 9): PQ over a DATA-DEPENDENT orthogonal
# transform. The learned-SVD OPQ rotation has no cross-engine-exact
# form, but its parametric core — BALANCING information across subspaces
# (eigenvalue allocation in the OPQ paper; variance-balanced dimension
# allocation in practice, cf. FAISS's OPQ init) — is a data-dependent
# PERMUTATION, which is an orthogonal matrix and integer-exact: rank the
# 64 dimensions by corpus variance (exact int128 numerator
# n·Σx² − (Σx)², ties by dim), then deal rank r to subspace r % PQ_M,
# slot r // PQ_M — every subspace receives one dimension from each
# variance octile instead of PQ's naive contiguous slices (which load
# whole high-variance blocks into single subspaces and starve others).
# The PQ training/search chain is reused VERBATIM on the permuted
# vectors (pq_oracle_ctes prefix="o_"); the final rescore uses the
# original vectors (cosine is permutation-invariant, so this is exact).
#
# 100 TB shape: the permutation adds ONE bounded 64-row statistics
# aggregate (posexplode → per-dim partial sums, map-side combinable) and
# a one-row broadcast of the 64-entry perm array; everything downstream
# is the certified PQ chain unchanged. e_opq_distortion_delta quantifies
# the win over plain PQ with both trainings in one query.
# ---------------------------------------------------------------------------
def _opq_perm_ctes() -> str:
    from ..operators.clustering import PQ_M, PQ_SUBDIM
    from ..operators.similarity import DIMS

    h = "CAST(v AS HUGEINT)"
    return f"""opq_qemb AS (SELECT vec_id, {_QV} AS q FROM embeddings),
    opq_dimvals AS (
      SELECT i.pos AS dim, q[i.pos] AS v
      FROM opq_qemb, (SELECT unnest(generate_series(1, {DIMS})) AS pos) i
    ),
    opq_stats AS (
      SELECT dim,
             CAST(COUNT(*) AS HUGEINT) * SUM({h} * {h})
               - SUM({h}) * SUM({h}) AS var_num
      FROM opq_dimvals GROUP BY dim
    ),
    opq_ranked AS (
      SELECT dim, row_number() OVER (ORDER BY var_num DESC, dim) - 1 AS r
      FROM opq_stats
    ),
    opq_posmap AS (
      SELECT dim, (r % {PQ_M}) * {PQ_SUBDIM} + (r // {PQ_M}) + 1 AS pos
      FROM opq_ranked
    ),
    opq_perm AS (SELECT array_agg(dim ORDER BY pos) AS pa FROM opq_posmap)"""


_OPQ_QV = f"list_select({_QV}, (SELECT pa FROM opq_perm))"


def _opq_perm_df(full: DataFrame) -> DataFrame:
    """One-row (pa: array<int>) permutation table from (vec_id, q) —
    source dim (0-based) per target position, variance-balanced."""
    from ..operators.clustering import PQ_M, PQ_SUBDIM

    dv = full.select(F.posexplode("q").alias("dim0", "v"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = dv.groupBy("dim0").agg(
        dec(F.count("*")).alias("n"),
        dec(F.sum("v")).alias("s"),
        dec(F.sum(F.col("v") * F.col("v"))).alias("ss"),
    )
    ranked = st.select(
        "dim0", (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias("var_num")
    )
    w = Window.orderBy(F.col("var_num").desc(), F.col("dim0"))
    pos = ranked.withColumn("r", F.row_number().over(w) - 1).select(
        "dim0",
        (
            (F.col("r") % PQ_M) * PQ_SUBDIM + F.floor(F.col("r") / PQ_M)
        ).alias("pos"),
    )
    return pos.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dim0"))),
            lambda x: x["dim0"],
        ).alias("pa")
    )


def _opq_permuted(full: DataFrame) -> DataFrame:
    """(vec_id, q) → (vec_id, q) with q variance-balance-permuted."""
    perm = _opq_perm_df(full)
    return full.crossJoin(F.broadcast(perm)).select(
        "vec_id",
        F.transform(
            F.col("pa"), lambda d: F.element_at(F.col("q"), (d + 1).cast("int"))
        ).alias("q"),
    )


def _opq_topk_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {_opq_perm_ctes()},
    {pq_oracle_ctes(_OPQ_QV, prefix="o_")},
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM o_pq_subs s JOIN o_pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM o_pq_codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.adc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_opq_topk", _opq_topk_oracle())
def e_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    permuted = _opq_permuted(full.select("vec_id", "q"))
    subs = pq_subvectors(permuted).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "adc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


def _opq_distortion_delta_oracle() -> str:
    from ..operators.clustering import pq_oracle_ctes

    return f"""
    WITH {_opq_perm_ctes()},
    {pq_oracle_ctes(_QV)},
    {pq_oracle_ctes(_OPQ_QV, prefix="o_")}
    SELECT
      CAST((SELECT SUM(dist) FROM pq_codes) AS BIGINT) AS pq_wcss_q,
      CAST((SELECT SUM(dist) FROM o_pq_codes) AS BIGINT) AS opq_wcss_q,
      CAST((SELECT SUM(dist) FROM o_pq_codes) AS DOUBLE)
        / (SELECT SUM(dist) FROM pq_codes) AS opq_over_pq
    """


@query("e_opq_distortion_delta", _opq_distortion_delta_oracle())
def e_opq_distortion_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total PQ quantization error, plain vs variance-balance-permuted —
    the audit quantifying what the OPQ-style transform buys (companion to
    the per-subspace e_pq_distortion)."""
    from ..operators.clustering import pq_subvectors, pq_train

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    par = spark.sparkContext.defaultParallelism
    plain_subs = pq_subvectors(full).repartition(par, "vec_id", "sub")
    opq_subs = pq_subvectors(_opq_permuted(full)).repartition(
        par, "vec_id", "sub"
    )
    plain_codes, _ = pq_train(plain_subs)
    opq_codes, _ = pq_train(opq_subs)
    a = plain_codes.agg(F.sum("dist").cast("long").alias("pq_wcss_q"))
    b = opq_codes.agg(F.sum("dist").cast("long").alias("opq_wcss_q"))
    return a.crossJoin(b).select(
        "pq_wcss_q",
        "opq_wcss_q",
        (F.col("opq_wcss_q").cast("double") / F.col("pq_wcss_q")).alias(
            "opq_over_pq"
        ),
    )


# ---------------------------------------------------------------------------
# SAMPLED ground truth for the pair-recall audit (round 9): the full
# e_semdedup_pair_recall's exact side is an all-pairs cross join —
# correct as a 2k-vector audit, unusable at the sf1 decade (20k vectors →
# 200M pair dots) and meaningless at 100 TB. This variant draws a
# deterministic fixed-K ANCHOR sample (md5-rank order, the
# t_near_dup_sample_pairs discipline — no rand()), computes the exact
# above-threshold pair set restricted to pairs touching an anchor
# (anchor × corpus — O(K·n), LINEAR in the corpus), and measures what
# fraction the cluster-bucketed SemDeDup prune recovers on exactly that
# restriction. Recall over anchor-incident pairs is an unbiased estimate
# of pair recall (every true pair is equally likely to be sampled under
# the hash order), and the audit now has a scale path: K stays fixed as
# the corpus grows.
# ---------------------------------------------------------------------------
from ..functions.hashing import md5_long, md5_long_sql  # noqa: E402

_RECALL_ANCHORS = 128
# k∝n measurement seam (tools/semdedup_kscale.py): None = the operator's
# default KM_K — the registered query's plan is untouched; the tool sets it
# to the scaled cluster count to audit sampled pair recall at k ∝ n.
_SEMDEDUP_K_OVERRIDE: int | None = None


@query(
    "e_semdedup_pair_recall_sampled",
    f"""
    WITH approx AS ({_semdedup_oracle()}),
    embn2 AS (SELECT vec_id, {_QV} AS q,
                     {dot_sql(_QV, _QV)} AS n2
              FROM embeddings),
    anchors AS (
      SELECT vec_id, q, n2 FROM embn2
      ORDER BY {md5_long_sql("'ra:' || CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT {_RECALL_ANCHORS}
    ),
    exact AS (
      SELECT DISTINCT least(a.vec_id, e.vec_id) AS vec_a,
                      greatest(a.vec_id, e.vec_id) AS vec_b
      FROM anchors a JOIN embn2 e ON a.vec_id <> e.vec_id
      WHERE CAST({dot_sql("a.q", "e.q")} AS DOUBLE)
              / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            >= {_SEMDEDUP_COS}
    ),
    found AS (
      SELECT DISTINCT p.vec_a, p.vec_b
      FROM approx p JOIN exact e
        ON p.vec_a = e.vec_a AND p.vec_b = e.vec_b
    )
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM found) AS n_found,
           CAST((SELECT count(*) FROM found) AS DOUBLE)
             / (SELECT count(*) FROM exact) AS pair_recall
    """,
)
def e_semdedup_pair_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    embn = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .withColumn("n2", dot(F.col("q"), F.col("q")))
    )
    # TakeOrderedAndProject head, then broadcast into the anchor × corpus
    # scan — the corpus side streams map-only, no exchange
    anchors = (
        embn.orderBy(
            md5_long(F.concat(F.lit("ra:"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(_RECALL_ANCHORS)
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("q").alias("qa"),
            F.col("n2").alias("na"),
        )
    )
    cos = dot(F.col("qa"), F.col("q")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    exact = (
        embn.crossJoin(F.broadcast(anchors))
        .filter(F.col("a_id") != F.col("vec_id"))
        .filter(cos >= _SEMDEDUP_COS)
        .select(
            F.least("a_id", "vec_id").alias("vec_a"),
            F.greatest("a_id", "vec_id").alias("vec_b"),
        )
        .distinct()
    )
    approx = e_semdedup_pairs(spark, sf_dir, k=_SEMDEDUP_K_OVERRIDE).select(
        "vec_a", "vec_b"
    )
    # r15: one pass over the anchor×corpus exact relation (it was
    # referenced twice — denominator count + hit join — and non-exchange
    # subtrees never runtime-reuse). Counts identical: exact is distinct
    # by construction, the approx side is deduped before the left join,
    # so count(*) = |exact| and count(_hit) = |exact ∩ approx| — exactly
    # the old inner-join-then-distinct census.
    hit = approx.distinct().withColumn("_hit", F.lit(1))
    return (
        exact.join(hit, ["vec_a", "vec_b"], "left")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            "n_found",
            (F.col("n_found").cast("double") / F.col("n_exact")).alias(
                "pair_recall"
            ),
        )
    )


# recall audit for the OPQ-permuted index: does variance balancing change
# what the ADC ordering FINDS, not just the codebook distortion it
# minimizes? Same machinery as every other recall row (exact single-query
# ground truth — O(n), not the quadratic pair audit).
@query("e_opq_recall", _recall_sql(_opq_topk_oracle(), 0, _PQ_OUT))
def e_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_opq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _PQ_OUT),
        _PQ_OUT,
    )


# ---------------------------------------------------------------------------
# BINARY quantization (sign-bit) ANN (round 9): the 1-bit-per-dimension
# layout vector stores ship for first-stage retrieval — 64 dims pack into
# two 32-bit words (lo/hi BIGINTs; a single 64-bit word would set the
# sign bit), candidates rank by Hamming distance (bit_count of XOR, pure
# integer, identical two's-complement semantics in both engines), exact
# cosine rescores the fixed candidate set. The extreme point of the
# quantization family already in the suite (SQ8 = 8 bits/dim, PQ ≈ 4
# bits/subvector, BQ = 1 bit/dim): an 8-byte code per vector, so the
# first-stage scan reads 64x less than SQ8 and 512x less than floats.
# ---------------------------------------------------------------------------
_BQ_CAND = 40
_BQ_K = 10


def _bq_words(vec):
    # unrolled 32-way codegen'd sums (the simhash 60-way-SUM style) —
    # shiftleft needs a literal bit count, so the loop stays in Python
    def word(bits):
        terms = [
            F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << (i - bits[0])).cast("long")).otherwise(F.lit(0).cast("long"))
            for i in bits
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return word(range(0, 32)), word(range(32, 64))


def _bq_words_sql(vec: str) -> tuple[str, str]:
    lo = (
        f"CAST(list_sum(list_transform(range(0, 32), i -> "
        f"CASE WHEN ({vec})[i + 1] > 0 THEN 1 << i ELSE 0 END)) AS BIGINT)"
    )
    hi = (
        f"CAST(list_sum(list_transform(range(32, 64), i -> "
        f"CASE WHEN ({vec})[i + 1] > 0 THEN 1 << (i - 32) ELSE 0 END)) AS BIGINT)"
    )
    return lo, hi


def _bq_oracle() -> str:
    lo, hi = _bq_words_sql("embedding")
    return f"""
    WITH b AS (
      SELECT vec_id, label, {lo} AS lo, {hi} AS hi, {_QV} AS qvec
      FROM embeddings
    ),
    q AS (SELECT lo AS qlo, hi AS qhi, qvec AS qv FROM b WHERE vec_id = 0),
    cand AS (
      SELECT b.vec_id, b.label, b.qvec,
             CAST(bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi))
               AS BIGINT) AS hamming
      FROM b, q WHERE b.vec_id <> 0
      ORDER BY hamming, b.vec_id LIMIT {_BQ_CAND}
    )
    SELECT c.vec_id, c.label, c.hamming,
           {cosine_sql("c.qvec", "q.qv")} AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_BQ_K}
    """


@query("e_bq_topk", _bq_oracle())
def e_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark)
    lo, hi = _bq_words(F.col("embedding"))
    b = emb.select(
        "vec_id",
        "label",
        lo.alias("lo"),
        hi.alias("hi"),
        quantize(F.col("embedding")).alias("qvec"),
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi"), F.col("qvec").alias("qv")
    )
    ham = (
        F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
        + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    ).cast("long")
    cand = (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "qvec", ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(_BQ_CAND)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "hamming",
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_BQ_K)
    )


@query("e_bq_recall", _recall_sql(_bq_oracle(), 0, _BQ_K))
def e_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_bq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _BQ_K),
        _BQ_K,
    )


# ---------------------------------------------------------------------------
# IVF-OPQ composed index (round 10): the full FAISS `OPQ..,IVF..,PQ..`
# serving shape — the variance-balanced OPQ permutation (certified by
# e_opq_topk) feeding the coarse IVF prune (certified by e_ivf_topk /
# e_ivfpq_topk) over the permuted PQ chain. Both halves are composed
# VERBATIM: _opq_permuted supplies the transformed corpus; pivots,
# assignment, the query's nprobe lists, codebook training, LUT and the ADC
# scan are the e_ivfpq_topk plan run on permuted vectors (the permutation
# is orthogonal, so coarse L2 distances are exactly preserved — IVF in
# transformed space IS IVF); the probed-id set rides a broadcast semi-join
# that prunes the ADC scan to nprobe/nlist of the code table (plan-gated),
# and the exact cosine rescore reads the ORIGINAL vectors (cosine is
# permutation-invariant, so the final ranking is exact).
#
# 100 TB shape: one bounded 64-row statistics aggregate + a one-row perm
# broadcast on top of the IVFPQ layout — assignment stays the zero-shuffle
# broadcast pivot fold, the ADC join reads small ints against a broadcast
# 128-entry LUT, and full vectors are fetched for just the candidate pool.
# ---------------------------------------------------------------------------
def _ivf_opq_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {_opq_perm_ctes()},
    {pq_oracle_ctes(_OPQ_QV, prefix="io_")},
    piv AS (SELECT vec_id AS pid, q AS pv FROM io_pq_emb
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.q", "p.pv")}, p.pid) AS rn
      FROM io_pq_emb e, piv p
    ),
    lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid FROM assign WHERE vec_id = 0 AND rn <= {_NPROBE}),
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM io_pq_subs s JOIN io_pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM io_pq_codes k
           JOIN lists li ON li.vec_id = k.vec_id
           JOIN qprobe USING (pid)
           JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.adc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_ivf_opq_topk", _ivf_opq_oracle())
def e_ivf_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist
    from ..operators.similarity import dist2, nearest_pivot

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    permuted = _opq_permuted(full.select("vec_id", "q"))
    # IVF side IN THE ORIGINAL SPACE (r15, guide §1.2/§3.3): squared L2 is
    # invariant under the common dim-permutation — the permuted-space
    # assignment sums the identical exact-integer terms in a different
    # order — so pivots, list assignment and the query's probe set are
    # byte-identical computed over ``full``. The oracle still derives them
    # in the transformed space (equal values); computing them here removes
    # THREE plan copies of the full variance-stat permutation subtree
    # (each `permuted` reference embeds the corpus-wide dim-variance
    # ranking), leaving the PQ chain as the only permuted consumer.
    base = full.select("vec_id", "q")
    piv = base.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pv")
    )
    lists = nearest_pivot(
        base.select("vec_id", F.col("q").alias("qvec")), piv
    ).select("vec_id", "pid")
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        base.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("q"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("pid")
    )
    probed = lists.join(F.broadcast(qprobe), "pid", "left_semi").select("vec_id")
    # PQ side on the permuted corpus; ADC scan pruned to the probed lists
    subs = pq_subvectors(permuted).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probed), "vec_id", "left_semi")
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "adc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


@query("e_ivf_opq_recall", _recall_sql(_ivf_opq_oracle(), 0, _PQ_OUT))
def e_ivf_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed IVF-OPQ index vs exact single-query ground
    truth — the quality row that closes the OPQ family: transform
    (e_opq_distortion_delta), retrieval (e_opq_recall), and now the full
    coarse-pruned serving shape."""
    return _recall_row(
        e_ivf_opq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _PQ_OUT),
        _PQ_OUT,
    )


# ---------------------------------------------------------------------------
# IVF-OPQ nprobe tuning curve (round 10): recall@10 of the COMPOSED
# serving path (coarse prune -> permuted ADC scan -> exact rescore) at
# probe depths 1/2/4 — the tuning evidence a user needs to trade probe
# budget against quality on the full OPQ,IVF,PQ layout (e_ivf_nprobe_curve
# measures the exact-cosine IVF; this measures what the shipped index
# actually returns). One permuted PQ training feeds all three depths: the
# code table is eagerly localCheckpoint'd (three union branches each
# broadcast-build their candidate head over it — the concurrent-broadcast
# race of round 9 applies; RUNTIME-classified, prefix-pinned) and each
# depth's ADC scan is pruned by its own probed-list semi-join.
# ---------------------------------------------------------------------------
def _ivf_opq_nprobe_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    per_depth = []
    for np_ in _CURVE_PROBES:
        per_depth.append(f"""adc{np_} AS (
          SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
          FROM io_pq_codes k
               JOIN lists li ON li.vec_id = k.vec_id
               JOIN (SELECT pid FROM qprobe WHERE rn <= {np_}) USING (pid)
               JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
          WHERE k.vec_id <> 0
          GROUP BY k.vec_id),
        cand{np_} AS (
          SELECT vec_id FROM adc{np_} ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}),
        ap{np_} AS (
          SELECT c.vec_id FROM cand{np_} c
          JOIN embeddings e ON e.vec_id = c.vec_id, qq
          ORDER BY {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} DESC,
                   c.vec_id
          LIMIT {_CURVE_TOP})""")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({np_} AS BIGINT) AS nprobe, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM ap{np_} JOIN truth USING (vec_id)) AS hits, "
        f"(SELECT CAST(count(*) AS DOUBLE) / {_CURVE_TOP} "
        f" FROM ap{np_} JOIN truth USING (vec_id)) AS recall_at_10"
        for np_ in _CURVE_PROBES
    )
    return f"""
    WITH {_opq_perm_ctes()},
    {pq_oracle_ctes(_OPQ_QV, prefix="io_")},
    piv AS (SELECT vec_id AS pid, q AS pv FROM io_pq_emb
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.q", "p.pv")}, p.pid) AS rn
      FROM io_pq_emb e, piv p
    ),
    lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid, rn FROM assign WHERE vec_id = 0),
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM io_pq_subs s JOIN io_pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ),
    qq AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    truth AS ({_gt_sql(0, _CURVE_TOP)}),
    {",".join(per_depth)}
    SELECT * FROM ({rows})
    """


@query("e_ivf_opq_nprobe_curve", _ivf_opq_nprobe_oracle())
def e_ivf_opq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist
    from ..operators.similarity import dist2, nearest_pivot

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    permuted = _opq_permuted(full)
    # IVF side in the ORIGINAL space (r15): squared L2 is permutation-
    # invariant (same exact-integer terms, reordered), so pivots/lists/
    # probe set are byte-identical over ``full`` — and the checkpointed
    # list build no longer executes the corpus-wide variance-stat
    # permutation subtree three times at construction.
    piv = full.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pv")
    )
    lists = nearest_pivot(
        full.select("vec_id", F.col("q").alias("qvec")), piv
    ).select("vec_id", "pid").localCheckpoint(eager=True)
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        full.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("q"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(_CURVE_PROBES))
        .localCheckpoint(eager=True)
    )
    subs = pq_subvectors(permuted).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    # ONE training for all three depths: narrow (vec_id, sub, cid, dist)
    # rows, eagerly materialized so the three per-depth candidate heads
    # (each a broadcast build) read the checkpoint instead of racing the
    # Lloyd's chain (ContextCleaner reclaims it with the result)
    codes = codes.select("vec_id", "sub", "cid").localCheckpoint(eager=True)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
        .localCheckpoint(eager=True)
    )
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    truth = _exact_topk_gt(spark, sf_dir, 0, _CURVE_TOP).localCheckpoint(
        eager=True
    )
    out = None
    for np_ in _CURVE_PROBES:
        probed = lists.join(
            F.broadcast(qprobe.filter(F.col("rn") <= np_).select("pid")),
            "pid",
            "left_semi",
        ).select("vec_id")
        adc = (
            codes.filter(F.col("vec_id") != 0)
            .join(F.broadcast(probed), "vec_id", "left_semi")
            .join(F.broadcast(lut), ["sub", "cid"])
            .groupBy("vec_id")
            .agg(F.sum("qdist").cast("long").alias("adc_q"))
        )
        cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
        ap = (
            full.join(F.broadcast(cand.select("vec_id")), "vec_id")
            .crossJoin(F.broadcast(qv))
            .select("vec_id", cosine(F.col("q"), F.col("qv")).alias("cs"))
            .orderBy(F.desc("cs"), "vec_id")
            .limit(_CURVE_TOP)
            .select("vec_id")
        )
        row = ap.join(truth, "vec_id", "left_semi").agg(
            F.lit(np_).cast("long").alias("nprobe"),
            F.count("*").alias("hits"),
            (F.count("*").cast("double") / _CURVE_TOP).alias("recall_at_10"),
        ).select("nprobe", "hits", "recall_at_10")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# SemDeDup KEEP-ONE artifact (round 10): the paper's actual OUTPUT — the
# pruned vector set. Thresholded within-cluster pairs (e_semdedup_pairs,
# composed verbatim) form a similarity graph; transitive closure merges
# chained near-dups into semantic groups (connected_components). Every
# pair is within one Lloyd's cluster and each vector has one cluster id,
# so a component never crosses clusters — CC is needed for WITHIN-cluster
# transitivity: A~B~C with A≁C is ONE group, while an unrelated D~E in
# the same cluster is another (a per-cluster argmin would wrongly
# collapse both into one survivor). Each group keeps its min vec_id,
# everything else is dropped. One row per corpus vector with its
# group representative and the keep verdict — the table a training
# pipeline joins against to filter its dataset. RUNTIME query (iterative
# min-label CC), prefix-pinned like t_dup_clusters.
# ---------------------------------------------------------------------------
@query(
    "e_semdedup_keepone",
    f"""
    WITH RECURSIVE approx AS ({_semdedup_oracle()}),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM approx
      UNION
      SELECT vec_b AS src, vec_a AS dst FROM approx
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT e.vec_id,
           c.component AS group_rep,
           (c.component IS NULL OR c.component = e.vec_id) AS kept
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
    """,
)
def e_semdedup_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = e_semdedup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select("vec_id")
    j = emb.join(comp, emb["vec_id"] == comp["node"], "left")
    return j.select(
        "vec_id",
        F.col("component").alias("group_rep"),
        (
            F.col("component").isNull() | (F.col("vec_id") == F.col("component"))
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# CORPUS-SCALED cluster count as a REGISTERED query (round 10): SemDeDup's
# scale prescription — k ∝ n so per-cluster size (and hence the
# within-cluster quadratic pair work per vector) stays CONSTANT as the
# corpus grows — expressed inside one static plan and one oracle, not just
# as the measured tools/semdedup_kscale.py study. k = clamp(n div
# KN_TARGET, 1, KN_CAP) rides a one-row broadcast count aggregate into the
# seed-rank filter (operators/clustering.kmeans_kn_seeds); the Lloyd's
# assignment/update passes are the certified kernels verbatim. The output
# row certifies the law end-to-end under the value hash: the scaled k
# itself, the non-empty cluster census, the balance extreme, and the
# above-threshold within-cluster pair count at that k. Integer-exact
# (`div` // parity); the cosine threshold uses the e_semdedup_pairs
# formulation unchanged. 100 TB shape: identical to e_semdedup_pairs —
# ONE wide exchange of the vector set, broadcast centroid joins, k·dims
# update grids — plus one one-row count broadcast; KN_CAP bounds the seed
# scan statically (a deployment raises it with its corpus).
# ---------------------------------------------------------------------------
def _semdedup_kn_oracle() -> str:
    from ..operators.clustering import KM_ITERS, kmeans_kn_oracle_ctes

    fin = f"a{KM_ITERS}"
    cos = (
        f"CAST({dot_sql('ea.q', 'eb.q')} AS DOUBLE) / "
        f"(sqrt(CAST(ea.n2 AS DOUBLE)) * sqrt(CAST(eb.n2 AS DOUBLE)))"
    )
    return f"""
    WITH {kmeans_kn_oracle_ctes(_QV)},
    embn AS (SELECT vec_id, q, {dot_sql("q", "q")} AS n2 FROM emb),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM {fin} x JOIN {fin} y ON x.cid = y.cid AND x.vec_id < y.vec_id
           JOIN embn ea ON ea.vec_id = x.vec_id
           JOIN embn eb ON eb.vec_id = y.vec_id
      WHERE {cos} >= {_SEMDEDUP_COS}
    ),
    sizes AS (SELECT cid, count(*) AS sz FROM {fin} GROUP BY cid)
    SELECT (SELECT count(*) FROM emb) AS n_vectors,
           (SELECT kk FROM kn) AS k,
           (SELECT count(*) FROM sizes) AS n_clusters,
           (SELECT max(sz) FROM sizes) AS max_cluster,
           (SELECT count(*) FROM pairs) AS n_pairs
    """


@query("e_semdedup_kn", _semdedup_kn_oracle())
def e_semdedup_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import KN_CAP, KN_TARGET, kmeans_kn_fit

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    _, assigned = kmeans_kn_fit(emb)
    final = assigned.select("vec_id", "cid")

    # pair generation: the e_semdedup_pairs discipline verbatim — narrow
    # (vec_id, cid) cid-equi-self-join, arrays+norms join back once per side
    embn = emb.withColumn("n2", dot(F.col("q"), F.col("q")))
    a = final.alias("a")
    b = final.alias("b")
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    xa = embn.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("n2").alias("na")
    )
    xb = embn.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("n2").alias("nb")
    )
    cos = dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    pairs = (
        cand.join(xa, "vec_a")
        .join(xb, "vec_b")
        .filter(cos >= _SEMDEDUP_COS)
        .select("vec_a", "vec_b")
    )

    nk = emb.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.expr(f"greatest(1, least({KN_CAP}, count(*) div {KN_TARGET}))")
        .cast("long")
        .alias("k"),
    )
    sizes = final.groupBy("cid").agg(F.count("*").alias("sz"))
    cstats = sizes.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.max("sz").cast("long").alias("max_cluster"),
    )
    npairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        nk.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(npairs))
        .select("n_vectors", "k", "n_clusters", "max_cluster", "n_pairs")
    )


# ---------------------------------------------------------------------------
# PCA-PERMUTATION hybrid PQ (round 10): the second dealing heuristic for
# the OPQ family — rank dimensions by the magnitude of their CERTIFIED
# fixed-point PC1 loading (the unrolled power iteration of
# e_pca_projection, composed verbatim) instead of raw per-dim variance,
# then deal them round-robin across the PQ_M subspaces with the exact
# OPQ formula ((r % M)·subdim + r div M). Rationale: variance ranks
# dimensions in isolation; the PC1 loading ranks them by participation
# in the corpus's dominant covariance direction, so correlated
# high-energy dims (which variance dealing can still co-locate when
# their variances interleave) spread across subspaces. Integer-exact:
# loadings are BIGINT fixed-point iterates, |·| and the (|v|, dim)
# rank are exact; the permutation is a one-row broadcast like OPQ's.
# The PQ training/search chain is reused VERBATIM on the permuted
# vectors; the rescore uses original vectors (permutation-invariant).
# e_pcapq_distortion_delta races the two heuristics head-to-head —
# both trainings in one query. 100 TB shape: identical to e_opq_topk
# plus the PCA chain's one gram scan (the 64×64 grid aggregate) and a
# linear chain of in-row Projects over one row.
# ---------------------------------------------------------------------------
def _pc1_dir_ctes() -> str:
    """CTE chain for the converged PC1 fixed-point direction: ``varr``
    holds the 64-entry loading list (the e_pca_projection iterate chain,
    same arithmetic — that oracle is tail-pinned so it is not refactored).

    Every stage is MATERIALIZED: the iterate chain nests scalar
    subqueries five deep, and when the whole chain additionally sits
    under the PQ oracle's many-reference CTEs, DuckDB's default CTE
    inlining re-expands it per reference — exponential re-evaluation
    that hangs the oracle (observed >110 s at sf0.001 vs <1 s
    materialized). Standalone e_pca_projection tolerates inlining only
    because it references the chain once."""
    gram = ORACLES["e_gram_matrix"]
    ctes = [
        f"g AS MATERIALIZED ({gram})",
        "v0 AS MATERIALIZED (SELECT unnest(range(1, 65)) AS j, CAST(1 AS BIGINT) AS v)",
    ]
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT g.dim_i AS j, CAST(SUM(g.gram * v{t-1}.v) AS BIGINT) AS u "
            f"FROM g JOIN v{t-1} ON g.dim_j = v{t-1}.j GROUP BY g.dim_i)"
        )
        ctes.append(
            f"v{t} AS MATERIALIZED (SELECT j, CAST(FLOOR((CAST(u AS DOUBLE) / "
            f"CAST((SELECT MAX(ABS(u)) FROM u{t}) AS DOUBLE)) * {_PCA_SCALE}) "
            f"AS BIGINT) AS v FROM u{t})"
        )
    ctes.append(
        f"varr AS MATERIALIZED (SELECT list(v ORDER BY j) AS va FROM v{_PCA_ITERS})"
    )
    return ",\n    ".join(ctes)


def _pcapq_perm_ctes() -> str:
    from ..operators.clustering import PQ_M, PQ_SUBDIM
    from ..operators.similarity import DIMS

    return f"""{_pc1_dir_ctes()},
    ppm_ranked AS MATERIALIZED (
      SELECT i.j AS dim,
             row_number() OVER (ORDER BY ABS(varr.va[i.j]) DESC, i.j) - 1 AS r
      FROM varr, (SELECT unnest(generate_series(1, {DIMS})) AS j) i
    ),
    ppm_posmap AS MATERIALIZED (
      SELECT dim, (r % {PQ_M}) * {PQ_SUBDIM} + (r // {PQ_M}) + 1 AS pos
      FROM ppm_ranked
    ),
    pca_perm AS MATERIALIZED (
      SELECT array_agg(dim ORDER BY pos) AS pa FROM ppm_posmap)"""


_PCAPQ_QV = f"list_select({_QV}, (SELECT pa FROM pca_perm))"


def _pcapq_perm_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row (pa: array<int>) permutation — source dim (0-based) per
    target position, ranked by |PC1 loading| with the OPQ dealing.

    Computed entirely IN-ROW over the one-row loading vector: rank =
    position in an array_sort of (-|loading|, dim) structs (ascending ≡
    |loading| DESC, dim ASC — the oracle's window order), and the dealing
    is inverted per target position (pos = (r%M)·subdim + r÷M ⇔ r =
    (pos%subdim)·M + pos÷subdim) so ``pa`` is one transform over the
    sorted array. No Generate/Window/re-aggregation downstream of the
    fixed-point chain: a posexplode of the unrolled PC1 expression sent
    the optimizer into minutes-long re-derivation (measured >100 s at
    sf0.001 vs ~5 s for the chain itself); the in-row form keeps the
    chain in its own Project (CollapseProject never inlines non-cheap
    multi-referenced expressions) exactly like the iterate chain."""
    from ..operators.clustering import PQ_M, PQ_SUBDIM
    from ..operators.similarity import DIMS

    va = _pc1_cols(_gram_row(spark, sf_dir)).select("va1")
    idx = F.sequence(F.lit(0), F.lit(DIMS - 1))
    ranked = va.select(
        F.array_sort(
            F.transform(
                idx,
                lambda i: F.struct(
                    (-F.abs(F.element_at(F.col("va1"), (i + 1).cast("int")))).alias(
                        "key"
                    ),
                    i.alias("dim0"),
                ),
            )
        ).alias("byrank")
    )
    return ranked.select(
        F.transform(
            idx,
            lambda p: F.element_at(
                F.col("byrank"),
                ((p % PQ_SUBDIM) * PQ_M + F.floor(p / PQ_SUBDIM) + 1).cast("int"),
            )["dim0"],
        ).alias("pa")
    )


def _pcapq_permuted(full: DataFrame, perm: DataFrame) -> DataFrame:
    """(vec_id, q) → (vec_id, q) with q PC1-loading-permuted."""
    return full.crossJoin(F.broadcast(perm)).select(
        "vec_id",
        F.transform(
            F.col("pa"), lambda d: F.element_at(F.col("q"), (d + 1).cast("int"))
        ).alias("q"),
    )


def _pcapq_topk_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {_pcapq_perm_ctes()},
    {pq_oracle_ctes(_PCAPQ_QV, prefix="pp_")},
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM pp_pq_subs s JOIN pp_pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM pp_pq_codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.adc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_pcapq_topk", _pcapq_topk_oracle())
def e_pcapq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    perm = _pcapq_perm_df(spark, sf_dir)
    permuted = _pcapq_permuted(full.select("vec_id", "q"), perm)
    subs = pq_subvectors(permuted).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "adc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


def _pcapq_distortion_delta_oracle() -> str:
    from ..operators.clustering import pq_oracle_ctes

    return f"""
    WITH {_opq_perm_ctes()},
    {_pcapq_perm_ctes()},
    {pq_oracle_ctes(_OPQ_QV, prefix="o_")},
    {pq_oracle_ctes(_PCAPQ_QV, prefix="pp_")}
    SELECT
      CAST((SELECT SUM(dist) FROM o_pq_codes) AS BIGINT) AS opq_wcss_q,
      CAST((SELECT SUM(dist) FROM pp_pq_codes) AS BIGINT) AS pcapq_wcss_q,
      CAST((SELECT SUM(dist) FROM pp_pq_codes) AS DOUBLE)
        / (SELECT SUM(dist) FROM o_pq_codes) AS pcapq_over_opq
    """


@query("e_pcapq_distortion_delta", _pcapq_distortion_delta_oracle())
def e_pcapq_distortion_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head of the two OPQ-style dealing heuristics: total PQ
    quantization error under the variance permutation vs the PC1-loading
    permutation — both trainings in one query (the e_opq_distortion_delta
    pattern with the plain baseline swapped for the rival heuristic)."""
    from ..operators.clustering import pq_subvectors, pq_train

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    par = spark.sparkContext.defaultParallelism
    opq_subs = pq_subvectors(_opq_permuted(full)).repartition(par, "vec_id", "sub")
    pca_subs = pq_subvectors(
        _pcapq_permuted(full, _pcapq_perm_df(spark, sf_dir))
    ).repartition(par, "vec_id", "sub")
    opq_codes, _ = pq_train(opq_subs)
    pca_codes, _ = pq_train(pca_subs)
    a = opq_codes.agg(F.sum("dist").cast("long").alias("opq_wcss_q"))
    b = pca_codes.agg(F.sum("dist").cast("long").alias("pcapq_wcss_q"))
    return a.crossJoin(b).select(
        "opq_wcss_q",
        "pcapq_wcss_q",
        (F.col("pcapq_wcss_q").cast("double") / F.col("opq_wcss_q")).alias(
            "pcapq_over_opq"
        ),
    )


@query("e_pcapq_recall", _recall_sql(_pcapq_topk_oracle(), 0, _PQ_OUT))
def e_pcapq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_row(
        e_pcapq_topk(spark, sf_dir).select("vec_id"),
        _exact_topk_gt(spark, sf_dir, 0, _PQ_OUT),
        _PQ_OUT,
    )


# ---------------------------------------------------------------------------
# SYMMETRIC-distance PQ top-k (round 10): SDC, the code-domain companion
# of e_pq_topk's ADC. ADC compares the query's RAW subvectors against the
# codebook (a 128-entry LUT built from the query vector at search time);
# SDC never touches raw query data at search time — the query is itself
# PQ-encoded and distances are codeword-to-codeword: d(x, q) ≈
# Σ_sub cdist(code_x[sub], code_q[sub]). This is the serving shape when
# BOTH sides are pre-encoded (corpus-vs-corpus similarity join, cached
# query codes, privacy-constrained serving where raw vectors never leave
# the encoder). Accuracy trades for it: SDC adds the query's own
# quantization error on top of ADC's — e_pq_topk and this query share
# training, so the gate pins both rankings. 100 TB shape: identical scan
# side to ADC (codes only, PQ_M small ints per vector); the LUT is built
# from the CODEBOOK alone (8·16·16 bounded rows → the query's code row
# prunes it to 128) — no raw-vector read anywhere in the search path;
# exact cosine rescore on the fixed candidate set only.
# ---------------------------------------------------------------------------
def _pq_sdc_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    return f"""
    WITH {pq_oracle_ctes(_QV)},
    c2c AS (
      SELECT a.sub, a.cid AS cid_a, b.cid AS cid_b,
             {sq_dist_sql("a.c", "b.c", PQ_SUBDIM)} AS cdist
      FROM pq_cb a JOIN pq_cb b ON a.sub = b.sub
    ), qlut AS (
      SELECT k.sub, t.cid_b, t.cdist
      FROM pq_codes k JOIN c2c t ON t.sub = k.sub AND t.cid_a = k.cid
      WHERE k.vec_id = 0
    ), sdc AS (
      SELECT k.vec_id, CAST(SUM(l.cdist) AS BIGINT) AS sdc_q
      FROM pq_codes k JOIN qlut l ON k.sub = l.sub AND k.cid = l.cid_b
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), cand AS (
      SELECT vec_id, sdc_q FROM sdc ORDER BY sdc_q, vec_id LIMIT {_PQ_CAND}
    ), qq AS (
      SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT c.vec_id, e.label, c.sdc_q,
           {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} AS cos_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qq
    ORDER BY cos_sim DESC, c.vec_id LIMIT {_PQ_OUT}
    """


@query("e_pq_sdc_topk", _pq_sdc_oracle())
def e_pq_sdc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    )
    subs = pq_subvectors(full.select("vec_id", "q")).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    # codebook-to-codebook distances (8·16·16 bounded rows), pruned to the
    # query's 128-entry row by its code — raw vectors never enter the
    # search path
    ca = cb.select("sub", F.col("cid").alias("cid_a"), F.col("c").alias("va"))
    cbb = cb.select("sub", F.col("cid").alias("cid_b"), F.col("c").alias("vb"))
    c2c = ca.join(cbb, "sub").select(
        "sub", "cid_a", "cid_b", sq_dist(F.col("va"), F.col("vb")).alias("cdist")
    )
    qcode = codes.filter(F.col("vec_id") == 0).select(
        "sub", F.col("cid").alias("cid_a")
    )
    qlut = qcode.join(c2c, ["sub", "cid_a"]).select("sub", "cid_b", "cdist")
    sdc = (
        codes.filter(F.col("vec_id") != 0)
        .select("vec_id", "sub", F.col("cid").alias("cid_b"))
        .join(F.broadcast(qlut), ["sub", "cid_b"])
        .groupBy("vec_id")
        .agg(F.sum("cdist").cast("long").alias("sdc_q"))
    )
    cand = sdc.orderBy(F.asc("sdc_q"), F.asc("vec_id")).limit(_PQ_CAND)
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    return (
        full.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "sdc_q",
            cosine(F.col("q"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_PQ_OUT)
    )


# ---------------------------------------------------------------------------
# HIERARCHICAL k∝n SemDeDup (round 10): the scale answer to the
# e_semdedup_kn decade row. Flat adaptive-k Lloyd's pays O(n·k) =
# O(n²/target) in the assignment once k grows with the corpus
# (SCALING.md: 6.2× wall for 10× rows as k rode 31 → 256). This variant
# coarse-quantizes the CENTROID set with a static P-pivot table (the
# top-P adaptive seeds — the IVF trick applied to the model, not the
# data): per vector, P pivot distances plus one pivot GROUP scan
# (~k/P expected) replace the k-way argmin — ~P + k/P per vector, with
# P ∝ √k the deployment knob. Pivot groups can empty as centroids move,
# so vectors pick their nearest LIVE pivot (bounded semi-join per
# iteration); every surviving centroid belongs to a pivot, so no vector
# is ever dropped. The assignment is APPROXIMATE by construction (a
# vector's true nearest centroid can sit in another pivot group) — like
# every IVF probe, and exactly mirrored in the oracle, so the value
# hash certifies the pruned law itself. Output row: the e_semdedup_kn
# census at the pruned assignment.
# ---------------------------------------------------------------------------
def _kn_pruned_pairs_ctes() -> str:
    """CTE chain through the pruned-assignment ``pairs`` relation —
    shared by the census oracle (e_semdedup_kn_pruned) and the keep-one
    oracle (e_semdedup_kn_pruned_keepone), so the keep-one's recursive
    closure provably runs over the SAME pair law the census certifies."""
    from ..operators.clustering import KM_ITERS, kmeans_kn_pruned_oracle_ctes

    fin = f"a{KM_ITERS}"
    cos = (
        f"CAST({dot_sql('ea.q', 'eb.q')} AS DOUBLE) / "
        f"(sqrt(CAST(ea.n2 AS DOUBLE)) * sqrt(CAST(eb.n2 AS DOUBLE)))"
    )
    return f"""{kmeans_kn_pruned_oracle_ctes(_QV)},
    embn AS (SELECT vec_id, q, {dot_sql("q", "q")} AS n2 FROM emb),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM {fin} x JOIN {fin} y ON x.cid = y.cid AND x.vec_id < y.vec_id
           JOIN embn ea ON ea.vec_id = x.vec_id
           JOIN embn eb ON eb.vec_id = y.vec_id
      WHERE {cos} >= {_SEMDEDUP_COS}
    )"""


def _semdedup_kn_pruned_oracle() -> str:
    from ..operators.clustering import KM_ITERS

    fin = f"a{KM_ITERS}"
    return f"""
    WITH {_kn_pruned_pairs_ctes()},
    sizes AS (SELECT cid, count(*) AS sz FROM {fin} GROUP BY cid)
    SELECT (SELECT count(*) FROM emb) AS n_vectors,
           (SELECT kk FROM kn) AS k,
           (SELECT count(*) FROM sizes) AS n_clusters,
           (SELECT max(sz) FROM sizes) AS max_cluster,
           (SELECT count(*) FROM pairs) AS n_pairs
    """


def _kn_pruned_emb_final_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(emb, final assignment, thresholded within-cluster pairs) of the
    pivot-pruned k∝n chain — the shared spine of the census query and the
    keep-one artifact (extracted round 11, expressions verbatim)."""
    from ..operators.clustering import kmeans_kn_pruned_fit

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    _, assigned = kmeans_kn_pruned_fit(emb)
    final = assigned.select("vec_id", "cid")

    embn = emb.withColumn("n2", dot(F.col("q"), F.col("q")))
    a = final.alias("a")
    b = final.alias("b")
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    xa = embn.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("n2").alias("na")
    )
    xb = embn.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("n2").alias("nb")
    )
    cos = dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    pairs = (
        cand.join(xa, "vec_a")
        .join(xb, "vec_b")
        .filter(cos >= _SEMDEDUP_COS)
        .select("vec_a", "vec_b")
    )
    return emb, final, pairs


@query("e_semdedup_kn_pruned", _semdedup_kn_pruned_oracle())
def e_semdedup_kn_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import KN_CAP, KN_TARGET

    emb, final, pairs = _kn_pruned_emb_final_pairs(spark, sf_dir)

    nk = emb.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.expr(f"greatest(1, least({KN_CAP}, count(*) div {KN_TARGET}))")
        .cast("long")
        .alias("k"),
    )
    sizes = final.groupBy("cid").agg(F.count("*").alias("sz"))
    cstats = sizes.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.max("sz").cast("long").alias("max_cluster"),
    )
    npairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        nk.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(npairs))
        .select("n_vectors", "k", "n_clusters", "max_cluster", "n_pairs")
    )


# ---------------------------------------------------------------------------
# Pruned-kn KEEP-ONE artifact (round 11): the shipped pruned-corpus table
# on the SCALE path. e_semdedup_keepone materializes the SemDeDup output
# at fixed k; this is the same artifact over the corpus-scaled-k,
# pivot-pruned chain (e_semdedup_kn_pruned's pair law, composed verbatim
# via the shared _kn_pruned_emb_final_pairs spine) — i.e. the table a
# 100 TB training pipeline would actually join against, since flat k∝n
# assignment is the decade bottleneck SCALING.md measured (6.2× vs 2.2×
# pruned). Transitive closure merges chained within-cluster near-dups
# (every pair shares a cluster, so components never cross clusters; CC
# is still required for within-cluster chains A~B~C with A≁C); each
# group keeps its min vec_id. One row per corpus vector:
# (vec_id, group_rep, kept). RUNTIME query (iterative min-label CC),
# prefix-pinned like e_semdedup_keepone.
# ---------------------------------------------------------------------------
@query(
    "e_semdedup_kn_pruned_keepone",
    f"""
    WITH RECURSIVE {_kn_pruned_pairs_ctes()},
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION
      SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT e.vec_id,
           c.component AS group_rep,
           (c.component IS NULL OR c.component = e.vec_id) AS kept
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
    """,
)
def e_semdedup_kn_pruned_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    _, _, pairs = _kn_pruned_emb_final_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select("vec_id")
    j = emb.join(comp, emb["vec_id"] == comp["node"], "left")
    return j.select(
        "vec_id",
        F.col("component").alias("group_rep"),
        (
            F.col("component").isNull() | (F.col("vec_id") == F.col("component"))
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# BQ threshold calibration (round 10): the sign-bit analog of
# t_simhash_hamming_hist — the evidence for picking a Hamming radius
# before trusting the 1-bit index at 100 TB. One corpus scan computes the
# query-to-corpus Hamming distance (two 64-bit words, bit_count) AND the
# exact integer dot product per vector; the census buckets by distance
# (bounded 0..64 grid) and carries the exact dot-product mass per bucket
# (sum of BIGINTs — no float accumulation anywhere, so the per-bucket
# mean similarity is reconstructable integer-exactly as sum div n). A
# monotone-decreasing dot mass over the distance grid is precisely what
# makes the Hamming first stage admissible. Map-side-combinable census;
# the query row is a one-row broadcast.
# ---------------------------------------------------------------------------
@query(
    "e_bq_hamming_hist",
    f"""
    WITH b AS (
      SELECT vec_id, {_bq_words_sql("embedding")[0]} AS lo,
             {_bq_words_sql("embedding")[1]} AS hi, {_QV} AS qvec
      FROM embeddings
    ),
    q AS (SELECT lo AS qlo, hi AS qhi, qvec AS qv FROM b WHERE vec_id = 0)
    SELECT CAST(bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi))
             AS BIGINT) AS hamming,
           count(*) AS n_vectors,
           CAST(SUM({dot_sql("b.qvec", "q.qv")}) AS BIGINT) AS sum_dot_q,
           CAST(FLOOR(CAST(SUM({dot_sql("b.qvec", "q.qv")}) AS DOUBLE)
                / count(*)) AS BIGINT) AS avg_dot_q
    FROM b, q WHERE b.vec_id <> 0
    GROUP BY 1
    """,
)
def e_bq_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark)
    lo, hi = _bq_words(F.col("embedding"))
    b = emb.select(
        "vec_id", lo.alias("lo"), hi.alias("hi"), quantize(F.col("embedding")).alias("qvec")
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi"), F.col("qvec").alias("qv")
    )
    ham = (
        F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
        + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    ).cast("long")
    return (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(ham.alias("hamming"), dot(F.col("qvec"), F.col("qv")).alias("d"))
        .groupBy("hamming")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("d").cast("long").alias("sum_dot_q"),
            # floor-mean (not `div`): the sum can be NEGATIVE and Spark's
            # `div` truncates toward zero while DuckDB `//` floors — the
            # clustering centroid-mean discipline (|sum| < 2^53 ⇒ exact)
            F.floor(F.sum("d").cast("double") / F.count("*"))
            .cast("long")
            .alias("avg_dot_q"),
        )
    )


# ---------------------------------------------------------------------------
# PQ candidate-budget tuning curve (round 10): recall@10 of the ADC
# serving path at candidate budgets 10/20/40 — the missing half of the
# tuning story. The nprobe curve (e_ivf_opq_nprobe_curve) measured
# recall flat at 0.5 across probe depths because THE PQ CANDIDATE BUDGET
# BINDS FIRST (the round-9 tuning datum); this query certifies that
# binding directly: ONE training chain and ONE ADC scan feed three
# nested candidate pools (top-10 ⊂ top-20 ⊂ top-40 by construction), so
# recall@10 vs budget isolates the rescore-pool knob every PQ deployment
# sizes. Static plan (no eager pins): the three rescore heads share the
# ADC/training subtrees canonically — AQE's ReusedExchange collapses
# them at execution like the kmeans chain; the exact GT is the standard
# single-query broadcast scan.
# ---------------------------------------------------------------------------
_CAND_BUDGETS = (10, 20, 40)


def _pq_cand_curve_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    adc = f"""
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM pq_subs s JOIN pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ), adc AS (
      SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
      FROM pq_codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ), qq AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    gt AS ({_gt_sql(0, _PQ_OUT)})"""
    arms = []
    for lb in _CAND_BUDGETS:
        arms.append(f"""
    SELECT CAST({lb} AS BIGINT) AS cand_budget,
           count(*) AS hits,
           count(*) / {_PQ_OUT} AS recall_at_10
    FROM (
      SELECT c.vec_id FROM (
        SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {lb}
      ) c JOIN embeddings e ON e.vec_id = c.vec_id, qq
      ORDER BY {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} DESC, c.vec_id
      LIMIT {_PQ_OUT}
    ) topk JOIN gt USING (vec_id)""")
    return (
        f"WITH {pq_oracle_ctes(_QV)},{adc}\n"
        + "\n    UNION ALL\n".join(arms)
    )


@query("e_pq_cand_curve", _pq_cand_curve_oracle())
def e_pq_cand_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    subs = pq_subvectors(full).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").cast("long").alias("adc_q"))
    )
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    gt = _exact_topk_gt(spark, sf_dir, 0, _PQ_OUT)
    out = None
    for lb in _CAND_BUDGETS:
        cand = adc.orderBy(F.asc("adc_q"), F.asc("vec_id")).limit(lb)
        topk = (
            full.join(F.broadcast(cand.select("vec_id")), "vec_id")
            .crossJoin(F.broadcast(qv))
            .select("vec_id", cosine(F.col("q"), F.col("qv")).alias("cs"))
            .orderBy(F.desc("cs"), F.asc("vec_id"))
            .limit(_PQ_OUT)
            .select("vec_id")
        )
        row = topk.join(gt, "vec_id").agg(
            F.lit(lb).cast("long").alias("cand_budget"),
            F.count("*").alias("hits"),
            (F.count("*") / _PQ_OUT).alias("recall_at_10"),
        ).select("cand_budget", "hits", "recall_at_10")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# IVF-OPQ 2-D tuning surface (round 11): recall@10 over the JOINT
# (nprobe × candidate budget) grid — what a deployment actually sweeps
# before fixing its serving knobs. The two certified 1-D curves each hold
# one knob at its default (e_ivf_opq_nprobe_curve fixes the budget at
# _PQ_CAND; e_pq_cand_curve has no coarse prune at all); the r9/r10
# tuning datum — THE CANDIDATE BUDGET BINDS BEFORE THE PROBE BUDGET —
# deserves the joint confirmation: along the budget axis recall moves,
# along the probe axis (at fixed budget) it stays flat. ONE permuted PQ
# training feeds all nine cells: per probe depth one pruned ADC scan,
# and per budget a NESTED candidate pool over that scan (top-10 ⊂
# top-20 ⊂ top-40 by construction) — the e_pq_cand_curve STATIC-sharing
# pattern (no eager pins: the nine rescore heads reference the
# training/ADC subtrees canonically and AQE's ReusedExchange collapses
# them at execution), extended to the composed OPQ,IVF,PQ chain. Output:
# 9 rows (nprobe, cand_budget, hits, recall_at_10).
# ---------------------------------------------------------------------------
def _ivf_opq_tuning_grid_oracle() -> str:
    from ..operators.clustering import PQ_SUBDIM, pq_oracle_ctes, sq_dist_sql

    per_cell = []
    for np_ in _CURVE_PROBES:
        per_cell.append(f"""adc{np_} AS (
          SELECT k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_q
          FROM io_pq_codes k
               JOIN lists li ON li.vec_id = k.vec_id
               JOIN (SELECT pid FROM qprobe WHERE rn <= {np_}) USING (pid)
               JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
          WHERE k.vec_id <> 0
          GROUP BY k.vec_id)""")
        for lb in _CAND_BUDGETS:
            per_cell.append(f"""ap{np_}_{lb} AS (
          SELECT c.vec_id FROM (
            SELECT vec_id, adc_q FROM adc{np_}
            ORDER BY adc_q, vec_id LIMIT {lb}
          ) c JOIN embeddings e ON e.vec_id = c.vec_id, qq
          ORDER BY {cosine_sql(quantize_sql("e.embedding"), "qq.qv")} DESC,
                   c.vec_id
          LIMIT {_CURVE_TOP})""")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({np_} AS BIGINT) AS nprobe, "
        f"CAST({lb} AS BIGINT) AS cand_budget, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM ap{np_}_{lb} JOIN truth USING (vec_id)) AS hits, "
        f"(SELECT CAST(count(*) AS DOUBLE) / {_CURVE_TOP} "
        f" FROM ap{np_}_{lb} JOIN truth USING (vec_id)) AS recall_at_10"
        for np_ in _CURVE_PROBES
        for lb in _CAND_BUDGETS
    )
    return f"""
    WITH {_opq_perm_ctes()},
    {pq_oracle_ctes(_OPQ_QV, prefix="io_")},
    piv AS (SELECT vec_id AS pid, q AS pv FROM io_pq_emb
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.q", "p.pv")}, p.pid) AS rn
      FROM io_pq_emb e, piv p
    ),
    lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
    qprobe AS (SELECT pid, rn FROM assign WHERE vec_id = 0),
    lut AS (
      SELECT c.sub, c.cid, {sq_dist_sql("s.sq", "c.c", PQ_SUBDIM)} AS qdist
      FROM io_pq_subs s JOIN io_pq_cb c USING (sub)
      WHERE s.vec_id = 0
    ),
    qq AS (SELECT {_QV} AS qv FROM embeddings WHERE vec_id = 0),
    truth AS ({_gt_sql(0, _CURVE_TOP)}),
    {",".join(per_cell)}
    SELECT * FROM ({rows})
    """


@query("e_ivf_opq_tuning_grid", _ivf_opq_tuning_grid_oracle())
def e_ivf_opq_tuning_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark shape (round 11, second pass): the naive 9-cell loop (per
    probe depth one ADC scan, per cell one broadcast-built rescore of the
    corpus) measured 22.6 s WARM at sf0.1 — broadcast builds cannot all be
    collapsed by ReusedExchange, so the training chain re-derived per
    cell. This shape hoists everything shared:

    - ONE multi-depth ADC aggregate: each code row carries its list's
      probe rank (a per-vector constant), and a single groupBy emits
      ``adc{np} = SUM(CASE WHEN rank <= np)`` per depth — NULL for a
      vector outside depth np's probed lists, exactly the per-depth
      semi-join the oracle states. 3 ADC scans become 1.
    - THREE per-depth top-maxbudget heads (TakeOrderedAndProject over the
      shared aggregate — map-side top-k, never a global sort), then the
      BUDGET axis entirely in-row: a per-depth rank window on the ≤ 40-row
      head and one struct-array explode tag each candidate with every
      budget cell it belongs to (top-10 ⊂ top-20 ⊂ top-40). The naive
      form planned NINE deep union branches; Catalyst planning of the
      unrolled training chain — not data movement — dominated the wall
      clock (sf0.001 and sf0.1 within 10% of each other). This form plans
      THREE.
    - ONE corpus rescore join for all cells: the tagged candidates join
      the original vectors once, a per-cell window (row_number over
      cos desc, vec_id — the exact orderBy/limit tie law) takes each
      cell's top-10, and hits come from ONE left join against the exact
      GT with zero-cells preserved.

    100 TB: one code-table pass, three bounded TakeOrderedAndProject
    heads, one candidate-set-sized rescore — no per-cell corpus scans,
    no unpartitioned corpus window anywhere."""
    from ..operators.clustering import pq_subvectors, pq_train, sq_dist
    from ..operators.similarity import dist2, nearest_pivot

    full = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    permuted = _opq_permuted(full)
    # IVF side in the ORIGINAL space (r15): permutation-invariant exact
    # L2 — see e_ivf_opq_topk; removes three plan copies of the
    # corpus-wide variance-stat permutation subtree.
    piv = full.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pv")
    )
    lists = nearest_pivot(
        full.select("vec_id", F.col("q").alias("qvec")), piv
    ).select("vec_id", "pid")
    wq = Window.orderBy("d2", "pid")
    qprobe = (
        full.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(piv))
        .select("pid", dist2(F.col("q"), F.col("pv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(_CURVE_PROBES))
    )
    subs = pq_subvectors(permuted).repartition(
        spark.sparkContext.defaultParallelism, "vec_id", "sub"
    )
    codes, cb = pq_train(subs)
    lut = (
        subs.filter(F.col("vec_id") == 0)
        .join(cb, "sub")
        .select("sub", "cid", sq_dist(F.col("sq"), F.col("c")).alias("qdist"))
    )
    # list-rank per vector (one row; rank = its list's position in the
    # query's probe order, NULL-free by the max-probe filter semantics:
    # vectors in unprobed lists simply drop from the inner join and from
    # every depth's ADC — identical to the per-depth semi-joins)
    ranked = lists.join(F.broadcast(qprobe.select("pid", "rn")), "pid").select(
        "vec_id", F.col("rn").alias("list_rank")
    )
    adc_all = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(ranked), "vec_id")
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(F.when(F.col("list_rank") <= np_, F.col("qdist")))
                .cast("long")
                .alias(f"adc{np_}")
                for np_ in _CURVE_PROBES
            ]
        )
    )
    heads = None
    for np_ in _CURVE_PROBES:
        head = (
            adc_all.filter(F.col(f"adc{np_}").isNotNull())
            .orderBy(F.asc(f"adc{np_}"), F.asc("vec_id"))
            .limit(max(_CAND_BUDGETS))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "vec_id",
                F.col(f"adc{np_}").alias("adc_q"),
            )
        )
        heads = head if heads is None else heads.unionByName(head)
    # budget axis in-row: rank within the ≤ max-budget head (bounded
    # per-depth partitions), then tag each candidate with every nested
    # budget cell it belongs to via one struct-array explode
    whead = Window.partitionBy("nprobe").orderBy(F.asc("adc_q"), F.asc("vec_id"))
    cand_u = (
        heads.withColumn("rnk", F.row_number().over(whead))
        .select(
            "nprobe",
            "vec_id",
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.when(
                                F.col("rnk") <= lb,
                                F.lit(lb).cast("long"),
                            )
                            for lb in _CAND_BUDGETS
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("cand_budget"),
        )
    )
    qv = full.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    scored = (
        cand_u.join(full, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "nprobe",
            "cand_budget",
            "vec_id",
            cosine(F.col("q"), F.col("qv")).alias("cs"),
        )
    )
    wcell = Window.partitionBy("nprobe", "cand_budget").orderBy(
        F.desc("cs"), F.asc("vec_id")
    )
    top = (
        scored.withColumn("rnk", F.row_number().over(wcell))
        .filter(F.col("rnk") <= _CURVE_TOP)
        .select("nprobe", "cand_budget", "vec_id")
    )
    truth = _exact_topk_gt(spark, sf_dir, 0, _CURVE_TOP).withColumn(
        "hit", F.lit(1).cast("long")
    )
    stats = (
        top.join(F.broadcast(truth.select("vec_id", "hit")), "vec_id", "left")
        .groupBy("nprobe", "cand_budget")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0).cast("long")))
            .cast("long")
            .alias("hits"),
        )
    )
    # every (nprobe, cand_budget) cell keeps its row even with ZERO
    # candidates (degenerate corpora): left-join the aggregate onto the
    # static 9-row grid — the oracle always emits 9 UNION ALL rows, and
    # the t_lsh_band_sweep plan table set the precedent (ADVICE r11)
    from .helpers import static_plan_table

    grid = static_plan_table(
        spark,
        "nprobe long, cand_budget long",
        [(np_, lb) for np_ in _CURVE_PROBES for lb in _CAND_BUDGETS],
    )
    return grid.join(F.broadcast(stats), ["nprobe", "cand_budget"], "left").select(
        "nprobe",
        "cand_budget",
        F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
        (
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).cast("double")
            / _CURVE_TOP
        ).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Pruned-assignment regret audit (round 11): the APPROXIMATION COST of
# the declared 100-TB SemDeDup path, certified under a value hash. The
# pivot-pruned assignment (e_semdedup_kn_pruned) is approximate by
# construction — a vector's true nearest centroid can sit outside its
# pivot group. The clean quantity is measured AT THE SAME CENTROID SET:
# run the pruned chain, then at ITS final centroids compare the pruned
# (pivot-restricted) assignment against the exact k-way argmin over the
# same centroids. Regret = dist_pruned − dist_exact is then genuinely
# ≥ 0 per vector (same candidate set, restricted vs full argmin) — a
# first draft raced the pruned chain against the FLAT chain end-to-end,
# where the two centroid sets diverge across iterations and the delta
# loses its sign and its meaning (measured 56-71% "disagreement" at sf1
# that was mostly centroid drift, not pruning error). This is the table
# that justifies trading O(n·k) for P + k/P: quality loss measured, not
# assumed. One exact-assignment pass beyond the pruned chain; bounded
# one-row output.
# ---------------------------------------------------------------------------
def _kn_pruned_vs_flat_oracle() -> str:
    from ..operators.clustering import (
        KM_ITERS,
        kmeans_kn_pruned_oracle_ctes,
        sq_dist_sql,
    )

    cent = f"pr_c{KM_ITERS - 1}"
    return f"""
    WITH {kmeans_kn_pruned_oracle_ctes(_QV, prefix="pr_")},
    exact AS (
      SELECT vec_id, cid, dist FROM (
        SELECT e.vec_id, s.cid, {sq_dist_sql("e.q", "s.c")} AS dist,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq_dist_sql("e.q", "s.c")}, s.cid) AS rn
        FROM pr_emb e CROSS JOIN {cent} s)
      WHERE rn = 1
    ),
    j AS (
      SELECT p.vec_id, x.cid AS cid_exact, p.cid AS cid_pruned,
             x.dist AS dist_exact, p.dist AS dist_pruned
      FROM pr_a{KM_ITERS} p JOIN exact x USING (vec_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN cid_exact <> cid_pruned THEN 1 ELSE 0 END)
             AS BIGINT) AS n_diff_assign,
           CAST(SUM(CASE WHEN cid_exact <> cid_pruned THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS frac_diff,
           CAST(SUM(dist_pruned - dist_exact) AS BIGINT) AS total_regret,
           CAST(MAX(dist_pruned - dist_exact) AS BIGINT) AS max_regret
    FROM j
    """


@query("e_kn_pruned_vs_flat_delta", _kn_pruned_vs_flat_oracle())
def e_kn_pruned_vs_flat_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL same-centroids audit: the exact pass is O(n·k) by
    construction (it IS the ground truth) — an occasional gate-scale
    diagnostic, never a serving path. The bounded deployment shape is
    e_kn_pruned_regret_sweep below: identical law, exact arm restricted
    to a fixed-size md5-anchor sample (its P = 16 arm is pinned as a
    strict subset of this audit in tests/test_clustering.py)."""
    from ..operators.clustering import kmeans_kn_pruned_audit

    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    # r15: exact + pruned assignments in ONE map pass over the broadcast
    # pruned state (kmeans_kn_pruned_dual) — the centroid tree appears
    # once in the plan instead of thrice, and the vec_id alignment join
    # disappears (identical rows: both passes assign every vector).
    j = kmeans_kn_pruned_audit(emb, emb)
    diff = F.when(F.col("cid_exact") != F.col("cid_pruned"), 1).otherwise(0)
    return j.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(diff).cast("long").alias("n_diff_assign"),
        (F.sum(diff).cast("double") / F.count("*")).alias("frac_diff"),
        F.sum(F.col("dist_pruned") - F.col("dist_exact"))
        .cast("long")
        .alias("total_regret"),
        F.max(F.col("dist_pruned") - F.col("dist_exact"))
        .cast("long")
        .alias("max_regret"),
    )


# ---------------------------------------------------------------------------
# Pruned-assignment regret P-SWEEP with a sampled exact arm (round 12):
# closes the loop between the P = √k speed prescription (wired as the
# kmeans_kn_pruned_fit default) and its measured quality cost, as a
# REGISTERED query under the value hash (the SCALING.md pivot sweep was
# a tools/ study only). For each P ∈ {8, 16, 32} the pruned chain runs
# end-to-end at that pivot count, and the same-centroids regret law of
# e_kn_pruned_vs_flat_delta adjudicates — except the exact k-way argmin
# (the audit's O(n·k) ground truth) runs only over a deterministic
# md5-ranked anchor sample of FIXED ABSOLUTE SIZE (TakeOrderedAndProject
# — map-side top-S, no global sort), which is the sampling knob that
# bounds the ground-truth pass at 100 TB: the pruned chain is the
# production path and stays full-corpus; only the diagnostic exact arm
# is sampled. e_kn_pruned_vs_flat_delta remains the FULL audit at gate
# scales; tests/test_clustering.py pins that the sampled P = 16 arm is a
# strict subset of the full audit (same centroids — isqrt(256) = 16 is
# the wired default — so sampled n_diff/total_regret/max_regret are
# bounded by the full audit's).
# ---------------------------------------------------------------------------
_REGRET_PIVOTS = (8, 16, 32)
_REGRET_SAMPLE = 200


def _kn_regret_sweep_oracle() -> str:
    from ..operators.clustering import (
        KM_ITERS,
        kmeans_kn_pruned_oracle_ctes,
        sq_dist_sql,
    )
    from ..functions.hashing import md5_long_sql

    parts = [
        f"""samp AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {md5_long_sql("'krs:' || CAST(vec_id AS VARCHAR)")} AS h
        FROM embeddings ORDER BY h, vec_id LIMIT {_REGRET_SAMPLE}))"""
    ]
    arms = []
    for p in _REGRET_PIVOTS:
        pre = f"rs{p}_"
        cent = f"{pre}c{KM_ITERS - 1}"
        parts.append(
            kmeans_kn_pruned_oracle_ctes(_QV, p=p, prefix=pre)
        )
        parts.append(f"""{pre}exact AS (
      SELECT vec_id, cid, dist FROM (
        SELECT e.vec_id, s.cid, {sq_dist_sql("e.q", "s.c")} AS dist,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq_dist_sql("e.q", "s.c")}, s.cid) AS rn
        FROM (SELECT * FROM {pre}emb
              WHERE vec_id IN (SELECT vec_id FROM samp)) e
        CROSS JOIN {cent} s)
      WHERE rn = 1)""")
        parts.append(f"""{pre}j AS (
      SELECT p.vec_id, x.cid AS cid_exact, p.cid AS cid_pruned,
             x.dist AS dist_exact, p.dist AS dist_pruned
      FROM {pre}a{KM_ITERS} p JOIN {pre}exact x USING (vec_id))""")
        arms.append(f"""SELECT CAST({p} AS BIGINT) AS pivots,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN cid_exact <> cid_pruned THEN 1 ELSE 0 END)
             AS BIGINT) AS n_diff_assign,
           CAST(SUM(CASE WHEN cid_exact <> cid_pruned THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS frac_diff,
           CAST(SUM(dist_pruned - dist_exact) AS BIGINT) AS total_regret,
           CAST(MAX(dist_pruned - dist_exact) AS BIGINT) AS max_regret
    FROM {pre}j""")
    return (
        "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(arms)
    )


@query("e_kn_pruned_regret_sweep", _kn_regret_sweep_oracle())
def e_kn_pruned_regret_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long
    from ..operators.clustering import kmeans_kn_pruned_audit

    # NO eager/lazy pin here, on measurement: a persist() of the quantized
    # relation warm-measured 23.6 s vs 15.2 s without it (same session
    # protocol) — the three chains' repeated emb reads already collapse to
    # ReusedExchange (plan-gated), and the pin only added storage-memory
    # pressure between the unrolled Lloyd's stages
    emb = (
        spread(read(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    samp = (
        emb.select(
            "vec_id",
            "q",
            md5_long(
                F.concat(F.lit("krs:"), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_REGRET_SAMPLE)
        .select("vec_id", "q")
    )
    out = None
    for p in _REGRET_PIVOTS:
        # r15: the exact arm and the pruned arm are ONE map pass over the
        # sample against the broadcast pruned state (kmeans_kn_pruned_dual)
        # — the arm's centroid tree appears once instead of thrice and the
        # vec_id alignment join disappears. Rows identical: the pruned
        # assignment is a per-row function, so restricting it to the
        # sample equals sampling the full assignment.
        j = kmeans_kn_pruned_audit(emb, samp, p=p)
        diff = F.when(F.col("cid_exact") != F.col("cid_pruned"), 1).otherwise(0)
        row = j.agg(
            F.lit(p).cast("long").alias("pivots"),
            F.count("*").cast("long").alias("n_sampled"),
            F.sum(diff).cast("long").alias("n_diff_assign"),
            (F.sum(diff).cast("double") / F.count("*")).alias("frac_diff"),
            F.sum(F.col("dist_pruned") - F.col("dist_exact"))
            .cast("long")
            .alias("total_regret"),
            F.max(F.col("dist_pruned") - F.col("dist_exact"))
            .cast("long")
            .alias("max_regret"),
        ).select(
            "pivots",
            "n_sampled",
            "n_diff_assign",
            "frac_diff",
            "total_regret",
            "max_regret",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# IVF list-split rebalance audit (round 13): the CORRECTIVE for the
# imbalance e_ivf_build_stats measures. A skewed list turns nprobe
# pruning into a full scan of the hot list, so a build pipeline splits
# its heaviest lists before serving. The law is structural (never
# data-flaky): the top _RB_SPLITS lists by occupancy (ties to the
# smaller pid) are each split in two — two deterministic sub-seeds (the
# members with the smallest salted md5, the kmeans_seeds discipline) and
# a nearest-sub-seed reassignment of that list's members. Whenever a
# split parent has >= 2 members, every split half is strictly smaller
# than its parent (each sub-seed captures at least itself), so max list
# occupancy strictly improves in the generic case — strictness requires
# that all lists tied at the max fall inside the top-_RB_SPLITS
# selection (a >_RB_SPLITS-way tie at max, or a 1-member hot list,
# degrades the guarantee to <=; the pin in tests/test_clustering.py is
# tie-aware). Output: the full before/after
# per-list layout (8 + nlist+_RB_SPLITS rows, exact integer shares).
# 100 TB shape: assignment is the broadcast pivot-array fold (zero
# corpus exchanges); hot selection reads the 8-row occupancy table; the
# sub-seeds come from TWO map-side-combined min-aggregations over the
# hot members (never a per-list sort — a hot list is by definition the
# one you must not sort on a single partition); reassignment is a second
# broadcast array fold over hot members only; every groupBy key space is
# bounded by nlist + splits.
# ---------------------------------------------------------------------------
_RB_SPLITS = 2


def _ivf_split_rebalance_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    return f"""
    WITH e AS (SELECT vec_id, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, qvec, pid FROM assign WHERE rn = 1),
    occ AS (SELECT pid, count(*) AS nv FROM lists GROUP BY pid),
    hot AS (SELECT pid FROM occ ORDER BY nv DESC, pid ASC LIMIT {_RB_SPLITS}),
    subseed AS (
      SELECT l.pid, l.vec_id, l.qvec,
             ROW_NUMBER() OVER (PARTITION BY l.pid
                                ORDER BY {md5_long_sql("'rb:' || CAST(l.vec_id AS VARCHAR)")},
                                         l.vec_id) AS sub
      FROM lists l JOIN hot h ON l.pid = h.pid
    ),
    subpiv AS (SELECT pid, sub, qvec AS sv FROM subseed WHERE sub <= 2),
    resplit AS (
      SELECT l.vec_id, l.pid, s.sub,
             ROW_NUMBER() OVER (PARTITION BY l.vec_id
                                ORDER BY {dist2_sql("l.qvec", "s.sv")}, s.sub) AS rn
      FROM lists l JOIN subpiv s ON l.pid = s.pid
    ),
    after_assign AS (
      SELECT vec_id, pid * 10 + sub AS list_id FROM resplit WHERE rn = 1
      UNION ALL
      SELECT l.vec_id, l.pid * 10 AS list_id FROM lists l
      WHERE l.pid NOT IN (SELECT pid FROM hot)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM embeddings),
    u AS (
      SELECT 'before' AS phase, pid * 10 AS list_id, nv AS n_vecs FROM occ
      UNION ALL
      SELECT 'after' AS phase, list_id, count(*) AS n_vecs
      FROM after_assign GROUP BY list_id
    )
    SELECT u.phase, CAST(u.list_id AS BIGINT) AS list_id,
           CAST(u.n_vecs AS BIGINT) AS n_vecs,
           (u.n_vecs * 1000000) // tot.total AS share_micro
    FROM u CROSS JOIN tot
    """


def _split_rebalanced_layout(emb: DataFrame):
    """The split-rebalance assignment law, shared by the audit
    (e_ivf_split_rebalance) and the serving twin (e_ivf_rebalanced_topk).

    ``emb`` must carry (vec_id, qvec, *extra).  Returns ``(occ, hot,
    after, cent)``: the before-occupancy table (pid, nv), the hot pid
    set, the rebalanced assignment (*emb columns*, list_id), and the
    ≤ nlist + _RB_SPLITS centroid table (list_id, cv) — the pivot for
    unsplit lists, the sub-seed for split halves."""
    from ..functions.hashing import md5_long as _md5_long
    from ..operators.similarity import nearest_pivot

    extra = [c for c in emb.columns if c not in ("vec_id", "qvec")]
    piv = emb.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("qvec").alias("pv")
    )
    lists = nearest_pivot(emb, piv)  # (*emb cols*, pid), zero-shuffle fold
    occ = lists.groupBy("pid").agg(F.count("*").alias("nv"))
    hot = occ.orderBy(F.desc("nv"), F.asc("pid")).limit(_RB_SPLITS).select("pid")
    hotm = lists.join(F.broadcast(hot), "pid")

    # two deterministic sub-seeds per hot list WITHOUT a per-list sort:
    # min-aggregate the salted hash (first seed), exclude it, min again
    # (second seed) — both map-side-combined, output <= _RB_SPLITS rows
    h = _md5_long(F.concat(F.lit("rb:"), F.col("vec_id").cast("string")))
    cand = hotm.select("pid", "vec_id", "qvec", h.alias("h"))
    s1 = cand.groupBy("pid").agg(
        F.min(F.struct("h", "vec_id", "qvec")).alias("m")
    )
    sub1 = s1.select(
        "pid", F.lit(1).cast("long").alias("sub"), F.col("m.qvec").alias("sv")
    )
    rest = cand.join(F.broadcast(s1), "pid").filter(
        (F.col("h") != F.col("m.h")) | (F.col("vec_id") != F.col("m.vec_id"))
    )
    s2 = rest.groupBy("pid").agg(
        F.min(F.struct("h", "vec_id", "qvec")).alias("m")
    )
    sub2 = s2.select(
        "pid", F.lit(2).cast("long").alias("sub"), F.col("m.qvec").alias("sv")
    )
    sub_arr = (
        sub1.unionByName(sub2)
        .groupBy("pid")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "sv"))).alias("_subs"))
    )

    # nearest-sub-seed reassignment: broadcast array fold (strict < over
    # the sub-ascending sorted array resolves distance ties to sub 1,
    # matching the oracle's ORDER BY dist, sub)
    qv = F.col("qvec")
    # r14 optimization: single dist2 evaluation per sub-seed (transform →
    # array_min), same winner as the previous strict-< fold — the array is
    # sub-ascending sorted, so ties resolve to sub 1 under both forms
    best = F.array_min(
        F.transform(
            F.col("_subs"),
            lambda s: F.struct(
                dist2(s["sv"], qv).alias("d2"), s["sub"].alias("sub")
            ),
        )
    )
    resplit = (
        hotm.join(F.broadcast(sub_arr), "pid")
        .withColumn("sub", best["sub"])
        .drop("_subs")
    )
    after = resplit.select(
        "vec_id",
        "qvec",
        *extra,
        (F.col("pid") * 10 + F.col("sub")).cast("long").alias("list_id"),
    ).unionByName(
        lists.join(F.broadcast(hot), "pid", "left_anti").select(
            "vec_id",
            "qvec",
            *extra,
            (F.col("pid") * 10).cast("long").alias("list_id"),
        )
    )
    cent = piv.join(F.broadcast(hot), "pid", "left_anti").select(
        (F.col("pid") * 10).cast("long").alias("list_id"),
        F.col("pv").alias("cv"),
    ).unionByName(
        sub1.unionByName(sub2).select(
            (F.col("pid") * 10 + F.col("sub")).cast("long").alias("list_id"),
            F.col("sv").alias("cv"),
        )
    )
    return occ, hot, after, cent


@query("e_ivf_split_rebalance", _ivf_split_rebalance_oracle())
def e_ivf_split_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec")
    )
    occ, hot, after, _cent = _split_rebalanced_layout(emb)
    tot = emb.agg(F.count("*").cast("long").alias("total"))
    u = occ.select(
        F.lit("before").alias("phase"),
        (F.col("pid") * 10).cast("long").alias("list_id"),
        F.col("nv").cast("long").alias("n_vecs"),
    ).unionByName(
        after.groupBy("list_id")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .select(F.lit("after").alias("phase"), "list_id", "n_vecs")
    )
    return u.crossJoin(F.broadcast(tot)).select(
        "phase",
        "list_id",
        "n_vecs",
        F.expr("(n_vecs * 1000000) div total").alias("share_micro"),
    )


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination (round 13): the embedding-space twin
# of the n-gram decontaminator (t_decontaminate). A held-out eval set
# leaking into training data inflates benchmarks even when no n-gram
# matches — paraphrases and translations share embeddings, not grams —
# so the pipeline flags every train vector whose cosine to ANY eval item
# reaches the SemDeDup threshold. Never all-pairs: the scan is
# IVF-pruned — train vectors carry their nearest-pivot list (broadcast
# array fold, zero corpus exchange) and each eval item probes only its
# _ED_NPROBE nearest lists, so a train vector is compared against just
# the eval items probing ITS list (~nprobe/nlist of the eval set).
# Deterministic eval split of FIXED ABSOLUTE SIZE (the sampled-band-
# sweep convention): membership is a salted md5 residue with the modulus
# scaled to the corpus — D = ceil(n / TARGET) from one broadcast 1-row
# count, no collect — so ~TARGET eval items stand in for the benchmark
# at ANY corpus size. An eval set is bench-sized BY DEFINITION (it is a
# benchmark); a %-of-corpus split would grow the probe broadcast and the
# candidate volume superlinearly with the corpus, which is a property of
# the synthetic stand-in, not of decontamination (measured: the residue
# form ran 4.0× for 10× rows at the sf0.1→sf1 decade; this form is
# decade-flat by construction — the corpus-linear stages are the pivot
# fold and the pruned broadcast probe scan). Output: one row per
# contaminated train vector (hit count, max cosine, nearest eval id —
# ties to the smaller id). The only exchange after the fold is the
# per-flagged-vector aggregation over post-threshold hits; the eval-side
# probe ranking windows over |eval| × nlist rows — bench-sized, never
# corpus-sized.
# ---------------------------------------------------------------------------
_ED_TARGET = 25    # eval-set size: D = ceil(n / TARGET), md5 % D == 1
# Lists probed per eval item, set from the MEASURED recall sweep
# (tools + SCALING.md round 13): on this near-orthogonal corpus the
# nprobe/nlist prune trades recall steeply — 2/8 captures only 0.33-0.55
# of true contamination pairs, 4/8 ~0.75, 6/8 0.87-0.94, 8/8 ≡
# exhaustive ≡ 1.0 (the eval set is fixed-size, so even the exhaustive
# scan is corpus-LINEAR; the prune only buys a constant factor).
# Decontamination is recall-critical — a missed leak poisons an eval —
# so the default sits at the knee (6/8); a deployment that unions many
# benchmarks (large |eval|) dials it down, one that cannot tolerate any
# miss runs 8/8. On a real dup-tight corpus (cos ≥ 0.95) assignment
# agreement is far higher and the same nprobe recovers more.
_ED_NPROBE = 6
_ED_COS = _SEMDEDUP_COS  # contamination threshold = the near-dup bar


def _ed_scan_ctes() -> str:
    """WITH-clause body of the decontamination scan, shared VERBATIM by the
    e_decontaminate_semantic and e_decontaminated_split oracles (the CTEs
    carry ``label`` through so the split-regeneration oracle can stratify;
    the flag-report oracle simply never reads it)."""
    from ..functions.hashing import md5_long_sql

    member = (
        f"{md5_long_sql(chr(39) + 'ed:' + chr(39) + ' || CAST(vec_id AS VARCHAR)')}"
        " % tot0.dd"
    )
    cos = (
        f"CAST({dot_sql('t.q', 'ev.q')} AS DOUBLE) / "
        f"(sqrt(CAST(t.n2 AS DOUBLE)) * sqrt(CAST(ev.n2 AS DOUBLE)))"
    )
    return f"""
    e AS (
      SELECT vec_id, label, {_QV} AS q, {member} AS m
      FROM embeddings CROSS JOIN
           (SELECT (count(*) + {_ED_TARGET - 1}) // {_ED_TARGET} AS dd
            FROM embeddings) tot0
    ),
    en AS (SELECT vec_id, label, q, m, {dot_sql("q", "q")} AS n2 FROM e),
    piv AS (SELECT vec_id AS pid, q AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT en.vec_id, en.label, en.q, en.n2, en.m, p.pid,
             ROW_NUMBER() OVER (PARTITION BY en.vec_id
                                ORDER BY {dist2_sql("en.q", "p.pv")}, p.pid) AS rn
      FROM en, piv p
    ),
    train AS (SELECT vec_id, label, q, n2, pid FROM assign
              WHERE rn = 1 AND m <> 1),
    ev0 AS (SELECT vec_id AS eval_id, q, n2 FROM en WHERE m = 1),
    probes AS (
      SELECT eval_id, pid FROM (
        SELECT ev0.eval_id, p.pid,
               ROW_NUMBER() OVER (PARTITION BY ev0.eval_id
                                  ORDER BY {dist2_sql("ev0.q", "p.pv")}, p.pid) AS rn
        FROM ev0, piv p) x
      WHERE rn <= {_ED_NPROBE}
    ),
    hits AS (
      SELECT t.vec_id, ev.eval_id, {cos} AS cs
      FROM train t JOIN probes pr ON t.pid = pr.pid
           JOIN ev0 ev ON ev.eval_id = pr.eval_id
      WHERE {cos} >= {_ED_COS}
    )"""


def _decontaminate_semantic_oracle() -> str:
    return f"""
    WITH {_ed_scan_ctes()},
    ranked AS (
      SELECT vec_id, eval_id, cs,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, eval_id ASC) AS rn
      FROM hits
    )
    SELECT g.vec_id, g.n_eval_hits, g.max_cos,
           CAST(r.eval_id AS BIGINT) AS nearest_eval_id
    FROM (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
                 max(cs) AS max_cos
          FROM hits GROUP BY vec_id) g
    JOIN ranked r ON r.vec_id = g.vec_id AND r.rn = 1
    """


def _decontamination_chain(spark: SparkSession, sf_dir: str):
    """The IVF-pruned decontamination scan, shared VERBATIM by
    e_decontaminate_semantic (the flag report) and e_decontaminated_split
    (the split regeneration over survivors). Returns ``(en, train, hits)``:
    the full annotated universe (vec_id, label, q, m, n2), the non-eval
    train relation carrying its nearest-pivot list, and the post-threshold
    (vec_id, eval_id, cs) candidate relation."""
    from ..functions.hashing import md5_long as _md5_long
    from ..operators.similarity import nearest_pivot

    raw = spread(read(spark, sf_dir, "embeddings"), spark)
    tot0 = raw.agg(F.count("*").cast("long").alias("nn"))
    emb = raw.crossJoin(F.broadcast(tot0)).select(
        "vec_id",
        "label",
        quantize(F.col("embedding")).alias("q"),
        (
            _md5_long(F.concat(F.lit("ed:"), F.col("vec_id").cast("string")))
            % F.expr(f"(nn + {_ED_TARGET - 1}) DIV {_ED_TARGET}")
        ).alias("m"),
    )
    en = emb.withColumn("n2", dot(F.col("q"), F.col("q")))
    piv = en.filter(F.col("vec_id").between(1, _N_PIVOTS)).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pv")
    )
    train = nearest_pivot(
        en.filter(F.col("m") != 1), piv, vec_col="q"
    ).select("vec_id", "label", "q", "n2", "pid")

    ev0 = en.filter(F.col("m") == 1).select(
        F.col("vec_id").alias("eval_id"), "q", "n2"
    )
    # eval-side probe ranking: |eval| × nlist rows, bench-sized — the one
    # place a window is the right tool (its exchange moves eval rows only)
    wp = Window.partitionBy("eval_id").orderBy("d2", "pid")
    probes = (
        ev0.crossJoin(F.broadcast(piv))
        .select(
            "eval_id",
            F.col("q").alias("eq"),
            F.col("n2").alias("en2"),
            "pid",
            dist2(F.col("q"), F.col("pv")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _ED_NPROBE)
        .select("eval_id", "eq", "en2", "pid")
    )

    cos = dot(F.col("q"), F.col("eq")).cast("double") / (
        F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("en2").cast("double"))
    )
    hits = (
        train.join(F.broadcast(probes), "pid")
        .select("vec_id", "eval_id", cos.alias("cs"))
        .filter(F.col("cs") >= _ED_COS)
    )
    return en, train, hits


@query("e_decontaminate_semantic", _decontaminate_semantic_oracle())
def e_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    _en, _train, hits = _decontamination_chain(spark, sf_dir)
    agg = hits.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("n_eval_hits"),
        F.max(
            F.struct(
                F.col("cs").alias("cs"),
                (-F.col("eval_id")).cast("long").alias("nid"),
            )
        ).alias("top"),
    )
    return agg.select(
        "vec_id",
        "n_eval_hits",
        F.col("top.cs").alias("max_cos"),
        (-F.col("top.nid")).cast("long").alias("nearest_eval_id"),
    )


# ---------------------------------------------------------------------------
# Decontamination-aware split REGENERATION (round 14): the operator a real
# pipeline runs right after e_decontaminate_semantic — flagged train
# vectors are quarantined and the stratified train/validation/test split
# is re-drawn over the SURVIVORS only, so contaminated documents can never
# ride a pre-existing assignment back into a training shard. The split law
# is operators/split.py verbatim (pure md5 function of (label, vec_id) —
# deterministic, engine-portable, shuffle-free), which means survivors
# KEEP the split they would always have had: regeneration never reshuffles
# clean documents, it only removes dirty ones (the re-balance happens in
# expectation because the hash is uniform per stratum). Output: the full
# mass-conservation census — one row per (label, bucket) over buckets
# {train, validation, test, quarantined, eval} with exact counts and a
# sum-of-ids membership checksum, so the value hash pins WHICH vectors
# landed where, not just how many (bounded: |labels| × 5 rows).
# 100 TB shape: the scan chain is the audited e_decontaminate_semantic
# plan verbatim (zero corpus exchange beyond its pivot fold + pruned
# broadcast probe scan); the flag set joins back on vec_id where AQE
# broadcasts the post-threshold side (bounded by true contamination
# volume, eval-bench-sized in any sane corpus); the split itself is a
# per-row hash with no exchange; the final census is one
# map-side-combined groupBy over ≤ |labels| × 5 keys.
# ---------------------------------------------------------------------------
def _decontaminated_split_oracle() -> str:
    from ..operators.split import split_case_sql
    from .text_queries import _SPLIT_FRACTIONS

    split_case = split_case_sql("t.vec_id", _SPLIT_FRACTIONS, "t.label")
    return f"""
    WITH {_ed_scan_ctes()},
    flagged AS (SELECT DISTINCT vec_id FROM hits),
    bucketed AS (
      SELECT t.vec_id, t.label,
             CASE WHEN f.vec_id IS NOT NULL THEN 'quarantined'
                  ELSE {split_case} END AS split
      FROM train t LEFT JOIN flagged f ON t.vec_id = f.vec_id
      UNION ALL
      SELECT vec_id, label, 'eval' AS split FROM en WHERE m = 1
    )
    SELECT label, split, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
    FROM bucketed GROUP BY label, split
    """


@query("e_decontaminated_split", _decontaminated_split_oracle())
def e_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.split import assign_split
    from .text_queries import _SPLIT_FRACTIONS

    en, train, hits = _decontamination_chain(spark, sf_dir)
    flagged = hits.select("vec_id").distinct().withColumn(
        "is_flagged", F.lit(True)
    )
    assigned = assign_split(
        train.select("vec_id", "label").join(flagged, "vec_id", "left"),
        key="vec_id",
        fractions=_SPLIT_FRACTIONS,
        stratum="label",
    ).select(
        "vec_id",
        "label",
        F.when(F.col("is_flagged"), F.lit("quarantined"))
        .otherwise(F.col("split"))
        .alias("split"),
    )
    ev = en.filter(F.col("m") == 1).select(
        "vec_id", "label", F.lit("eval").alias("split")
    )
    return (
        assigned.unionByName(ev)
        .groupBy("label", "split")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("vec_id").cast("long").alias("vec_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Contamination report BY EVAL ITEM (round 14): the mirror of
# e_decontaminate_semantic's per-train-vector flag list — the view a
# pipeline owner reads to decide which BENCHMARK items are compromised
# (an eval item with many close train neighbours is leaked; its scores
# will be inflated no matter how the train side is cleaned). Same scan
# chain verbatim (_decontamination_chain); only the aggregation key
# flips to eval_id. Output: one row per leaked eval item — train-hit
# count, max cosine, nearest train vector with deterministic ties
# (cos DESC, vec_id ASC via the struct-max convention). Bounded by
# |eval| rows. 100 TB shape: identical to e_decontaminate_semantic —
# the flipped groupBy key changes which bounded side the post-threshold
# aggregation collapses onto, nothing else.
# ---------------------------------------------------------------------------
def _contamination_report_oracle() -> str:
    return f"""
    WITH {_ed_scan_ctes()},
    ranked AS (
      SELECT eval_id, vec_id, cs,
             ROW_NUMBER() OVER (PARTITION BY eval_id
                                ORDER BY cs DESC, vec_id ASC) AS rn
      FROM hits
    )
    SELECT g.eval_id, g.n_train_hits, g.max_cos,
           CAST(r.vec_id AS BIGINT) AS nearest_train_id
    FROM (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_hits,
                 max(cs) AS max_cos
          FROM hits GROUP BY eval_id) g
    JOIN ranked r ON r.eval_id = g.eval_id AND r.rn = 1
    """


@query("e_contamination_report", _contamination_report_oracle())
def e_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _en, _train, hits = _decontamination_chain(spark, sf_dir)
    agg = hits.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_train_hits"),
        F.max(
            F.struct(
                F.col("cs").alias("cs"),
                (-F.col("vec_id")).cast("long").alias("nid"),
            )
        ).alias("top"),
    )
    return agg.select(
        "eval_id",
        "n_train_hits",
        F.col("top.cs").alias("max_cos"),
        (-F.col("top.nid")).cast("long").alias("nearest_train_id"),
    )


# ---------------------------------------------------------------------------
# Serving over the REBALANCED layout (round 13): the query that proves
# the split-rebalance corrective composes with the serving path — IVF
# top-k where the probed universe is the post-split list set and the
# probe ranking runs against the per-list centroid table (the pivot for
# unsplit lists, the sub-seed for split halves). This is why a build
# pipeline rebalances at all: after a split, nprobe pruning scans the
# HALF of the former hot list nearest the query instead of all of it.
# Same serving conventions as e_ivf_topk (query = vec_id 0, _NPROBE
# probed lists, exact-cosine top-5, deterministic ties). 100 TB shape:
# the layout build is the audited zero-corpus-exchange chain; serving
# adds one broadcast of the ≤ nlist+_RB_SPLITS centroid table, a
# broadcast semi-join of the probed ids into the assignment scan, and a
# TakeOrderedAndProject top-5 — the e_ivf_topk plan over a better-
# balanced list set.
# ---------------------------------------------------------------------------
def _ivf_rebalanced_topk_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    cos = cosine_sql("a.qvec", "q.qvec")
    return f"""
    WITH e AS (SELECT vec_id, label, {_QV} AS qvec FROM embeddings),
    piv AS (SELECT vec_id AS pid, qvec AS pv FROM e
            WHERE vec_id BETWEEN 1 AND {_N_PIVOTS}),
    assign AS (
      SELECT e.vec_id, e.label, e.qvec, p.pid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist2_sql("e.qvec", "p.pv")}, p.pid) AS rn
      FROM e, piv p
    ),
    lists AS (SELECT vec_id, label, qvec, pid FROM assign WHERE rn = 1),
    occ AS (SELECT pid, count(*) AS nv FROM lists GROUP BY pid),
    hot AS (SELECT pid FROM occ ORDER BY nv DESC, pid ASC LIMIT {_RB_SPLITS}),
    subseed AS (
      SELECT l.pid, l.vec_id, l.qvec,
             ROW_NUMBER() OVER (PARTITION BY l.pid
                                ORDER BY {md5_long_sql("'rb:' || CAST(l.vec_id AS VARCHAR)")},
                                         l.vec_id) AS sub
      FROM lists l JOIN hot h ON l.pid = h.pid
    ),
    subpiv AS (SELECT pid, sub, qvec AS sv FROM subseed WHERE sub <= 2),
    resplit AS (
      SELECT l.vec_id, l.label, l.qvec, l.pid, s.sub,
             ROW_NUMBER() OVER (PARTITION BY l.vec_id
                                ORDER BY {dist2_sql("l.qvec", "s.sv")}, s.sub) AS rn
      FROM lists l JOIN subpiv s ON l.pid = s.pid
    ),
    after_assign AS (
      SELECT vec_id, label, qvec, pid * 10 + sub AS list_id
      FROM resplit WHERE rn = 1
      UNION ALL
      SELECT l.vec_id, l.label, l.qvec, l.pid * 10 AS list_id FROM lists l
      WHERE l.pid NOT IN (SELECT pid FROM hot)
    ),
    cent AS (
      SELECT pid * 10 AS list_id, pv AS cv FROM piv
      WHERE pid NOT IN (SELECT pid FROM hot)
      UNION ALL
      SELECT pid * 10 + sub AS list_id, sv AS cv FROM subpiv
    ),
    q AS (SELECT qvec FROM e WHERE vec_id = 0),
    qprobe AS (
      SELECT list_id FROM (
        SELECT c.list_id,
               ROW_NUMBER() OVER (
                 ORDER BY {dist2_sql("q.qvec", "c.cv")}, c.list_id) AS rn
        FROM cent c CROSS JOIN q) x
      WHERE rn <= {_NPROBE}
    )
    SELECT a.vec_id, a.label, CAST(a.list_id AS BIGINT) AS list_id,
           {cos} AS cos_sim
    FROM after_assign a JOIN qprobe USING (list_id) CROSS JOIN q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 5
    """


@query("e_ivf_rebalanced_topk", _ivf_rebalanced_topk_oracle())
def e_ivf_rebalanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dist2 as _dist2

    emb = spread(read(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", quantize(F.col("embedding")).alias("qvec"), "label"
    )
    _occ, _hot, after, cent = _split_rebalanced_layout(emb)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qv"))
    wq = Window.orderBy("d2", "list_id")  # <= nlist + splits rows
    qprobe = (
        cent.crossJoin(F.broadcast(q))
        .select("list_id", _dist2(F.col("qv"), F.col("cv")).alias("d2"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NPROBE)
        .select("list_id")
    )
    return (
        after.join(F.broadcast(qprobe), "list_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "list_id",
            cosine(F.col("qvec"), F.col("qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )
