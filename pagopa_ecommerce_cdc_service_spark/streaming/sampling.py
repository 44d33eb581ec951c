"""Streaming stratified quota sampling — the dedup-on-ingest twin of
``plans.pipeline_queries.stratified_quota_sample``.

Per micro-batch the work is O(batch): hash each arriving key and append
NARROW (stratum, hash, key) rows to a parquet store — never a corpus
rescan. The quota law (keep the ceil(n/denominator) smallest hashes per
stratum) depends on the FINAL stratum size n, which only grows, so the
kept set cannot be decided on ingest: a row outside today's quota enters
it when the stratum grows. Adjudication therefore happens once at the
final read over the accumulated store — the same deferred-adjudication
shape as the winnowing twin's corpus-global df cap (a per-batch verdict
would be unsound, not just stale). distinct() on the store makes the
final read replay-safe under at-least-once batch re-runs: a replayed
batch re-appends byte-identical rows (the hash is deterministic in the
key), so set semantics absorb them.

100 TB: the store holds one narrow row per seen key — the same O(corpus)
a batch pass scans, paid incrementally; the final adjudication is the
batch operator's single stratum exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .pipeline import drain


def stream_stratified_quota(
    stream: DataFrame, workdir: str, denominator: int = 5
) -> DataFrame:
    """Run an ``availableNow`` pass over the file ``stream`` (a staged
    source with ``doc_id``, ``lang`` and ``source`` columns), appending each
    batch's (lang, source, hkey, doc_id) rows to ``workdir``/store; return
    the adjudicated kept set — identical to the batch
    :func:`stratified_quota_sample` law over everything ingested so far.
    Re-invoking with the same ``workdir`` after new files land continues
    on the same checkpoint (restart-safe)."""
    from pyspark.sql import Window

    spark = stream.sparkSession
    store_dir = f"{workdir}/store"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.select(
            "doc_id",
            "lang",
            "source",
            md5_long(F.col("doc_id").cast("string")).alias("hkey"),
        ).write.mode("append").parquet(store_dir)

    drain(
        stream.writeStream.foreachBatch(merge),
        f"{workdir}/ckpt",
        "stream_stratified_quota",
    )

    seen = spark.read.parquet(store_dir).distinct()
    strat = Window.partitionBy("lang", "source")
    d = denominator
    ranked = seen.select(
        "doc_id",
        "lang",
        "source",
        F.count("*").over(strat).alias("stratum_size"),
        F.expr(
            f"(count(*) OVER (PARTITION BY lang, source) + {d - 1}) div {d}"
        ).alias("quota"),
        F.row_number().over(strat.orderBy("hkey", "doc_id")).alias("rk"),
    )
    return ranked.filter(F.col("rk") <= F.col("quota")).drop("hkey")
