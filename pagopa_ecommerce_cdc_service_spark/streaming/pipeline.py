"""Structured Streaming pipeline: event-log stream → maintained view table.

Spark translation of the reference's stream lifecycle
(EcommerceTransactionsLogEventsStream.kt:44-177):

- S1 change-stream source  → ``readStream`` (file source here; Kafka at prod
  scale — swap ``format``/options, the rest is unchanged)
- S2-S4 resume/checkpoint  → ``checkpointLocation`` (offsets + state commits)
- F1-F3 intake filters     → the same :func:`prepare_events` expressions
- ST3 per-event lock/dedup → per-key seen-set in the state fold
- ST2/ST4 retries          → micro-batch replay from checkpoint +
  ``spark.task.maxFailures``
- S5 upsert sink           → ``foreachBatch`` keyed merge (Delta/Iceberg
  MERGE INTO in production; local parquet swap here)
- ST7 liveness             → :class:`listeners.LivenessListener`
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CdcConfig, DEFAULT_CONFIG
from ..operators.cdc_fold import prepare_events
from ..schemas import EVENT_ENVELOPE_TYPE
from .state_fold import incremental_view


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
    fallback_minutes: int | None = None,
) -> DataFrame:
    """File-source S1 twin. ``fallback_minutes`` is the S3 fallback start
    offset for a FIRST run with no checkpoint: log files modified before the
    window are dropped via the ``_metadata.file_modification_time`` column
    (the file twin's arrival-time analog of the change stream's position),
    mirroring the reference's checkpoint-miss policy of starting
    ``fallbackInMin`` before now (RedisResumePolicyService.kt:43-52).

    CALLER CONTRACT: pass ``fallback_minutes`` only when no checkpoint
    exists (``start_view_maintenance`` enforces this) — the filter is a
    per-row predicate with a fresh ``now()``, so applying it on a restart
    would silently drop events that arrived while the query was down.
    Committed offsets must win once a checkpoint exists, same precedence as
    the reference's Redis token beating the fallback window. (The Kafka
    twin maps the policy onto ``startingTimestamp``, which Kafka itself
    ignores once the checkpoint has offsets, so it needs no such guard.)
    """
    reader = spark.readStream.format(fmt).schema(EVENT_ENVELOPE_TYPE)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(source_dir)
    if fallback_minutes is not None:
        import datetime as _dt

        cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(
            minutes=fallback_minutes
        )
        # epoch comparison: tz-independent (a naive timestamp literal would
        # be re-interpreted in the session timezone, shifting the window)
        cutoff_us = int(cutoff.timestamp() * 1_000_000)
        raw = (
            raw.select("*", F.col("_metadata.file_modification_time").alias("_mod"))
            .filter(F.unix_micros(F.col("_mod")) >= F.lit(cutoff_us))
            .drop("_mod")
        )
    return raw


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` resolved through the Hadoop API —
    the ONLY correct way to probe paths here: ``os.path`` is always false
    for non-local URIs (hdfs://, s3a://...), silently taking the wrong
    branch on any real cluster."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def checkpoint_has_offsets(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True iff the checkpoint already has committed source offsets.

    Resolved through the Hadoop FileSystem API so first-run detection works
    for ANY checkpoint URI (file:, hdfs://, s3a://...) — an ``os.path``
    probe is always false for non-local URIs, which would silently re-apply
    the fallback window on every restart and drop events that arrived while
    the query was down (the exact hazard the :func:`read_event_stream`
    contract forbids)."""
    fs, path = _hadoop_fs(spark, f"{checkpoint_dir}/offsets")
    return bool(fs.exists(path))


def stream_transactions_view(
    raw_stream: DataFrame,
    config: CdcConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Raw envelope stream → per-batch view-update stream (update mode).

    The intake and fold row counters ride on the query as observed metrics
    (ST8) — attach a :class:`listeners.FoldMetricsListener` to consume them
    per micro-batch.
    """
    from .listeners import observe_fold, observe_intake

    prepared = observe_fold(prepare_events(observe_intake(raw_stream), config))
    return incremental_view(
        prepared,
        seen_ids_cap=config.seen_ids_cap,
        view_state_ttl_seconds=config.view_state_ttl_seconds,
    )


VIEW_BUCKET_COL = "_bucket"
_COMMITS_DIR = "_commits"
_DATA_DIR = "data"
_MANIFEST_VERSION = 1


def view_bucket(key_col: str, n_buckets: int):
    """Stable key → bucket id (Murmur3 ``hash`` is seed-fixed across runs)."""
    return F.pmod(F.hash(key_col), F.lit(n_buckets))


# ---------------------------------------------------------------------------
# Manifest-pointer commit protocol (object-store-atomic, rename-free).
#
# Layout:
#   <view_dir>/data/g-<epoch>-<nonce>/_bucket=<b>/part-*.parquet
#       immutable generation dirs — written once, never renamed or mutated
#   <view_dir>/_commits/c-<seq 10 digits>.json
#       immutable commit manifests; the LIVE table state is defined by the
#       highest-sequence manifest whose embedded checksum validates
#
# A commit is ONE small-file write (create-new, never overwrite, no rename
# anywhere in the protocol) — atomic on any store where a closed object is
# all-or-nothing visible (PUT semantics on S3/GCS/ABFS; close() on HDFS).
# A torn/partial manifest fails its checksum and readers fall back to the
# previous sequence, so even a store that exposes in-progress writes can
# never yield a corrupt table. This replaces the round-4 staged-rename
# chain, whose save→move→drop bucket renames were atomic on file:/HDFS but
# copy+delete (non-atomic, crash-windowed) on object stores — the reference
# guarantee being twinned is Mongo's per-document atomic upsert
# (TransactionViewUpsertService.kt:160-189).
#
# Concurrency: the create-NEW commit write doubles as optimistic
# concurrency control — two writers racing one sequence cannot both win;
# the loser's create throws (its batch retries against the new head),
# never a silent overwrite (test_commit_seq_collision_fails_loudly...).
# On stores without atomic create-if-absent, swap that one primitive for a
# conditional PUT (If-None-Match) — the rest of the protocol is unchanged.
#
# Single writer (the streaming query's foreachBatch), many readers:
# readers resolve a manifest and get snapshot isolation for the dirs it
# names; the writer garbage-collects state unreferenced by the RETAINED
# manifests at the top of each merge. ``retain_commits`` (default 1) keeps
# the last N commits live — with N ≥ 2 a reader that resolved the current
# manifest has at least a full commit window before its dirs can be GC'd
# (the log-structured-table retention idiom), and ``read_view(version=)``
# time-travels to any retained commit.
# ---------------------------------------------------------------------------


def _fs_write_new_file(fs, path, text: str) -> None:
    """Create-new (never overwrite) small-file write through the Hadoop FS
    API — the protocol's only publish primitive. No rename: visibility of
    the closed file IS the commit."""
    out = fs.create(path, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, fs, path) -> str:
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _manifest_digest(payload: dict) -> str:
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode("utf-8")
    ).hexdigest()


def _list_commit_files(spark: SparkSession, view_dir: str):
    """[(seq, Path)] descending by seq; tolerates a missing commits dir."""
    fs, _ = _hadoop_fs(spark, view_dir)
    jvm = spark._jvm
    commits = jvm.org.apache.hadoop.fs.Path(view_dir, _COMMITS_DIR)
    if not fs.exists(commits):
        return fs, []
    found = []
    for status in fs.listStatus(commits):
        name = status.getPath().getName()
        if name.startswith("c-") and name.endswith(".json"):
            try:
                found.append((int(name[2:-5]), status.getPath()))
            except ValueError:
                continue
    found.sort(key=lambda t: t[0], reverse=True)
    return fs, found


def valid_commits(spark: SparkSession, view_dir: str):
    """All checksum-valid commits, newest first: [(seq, payload)]. Torn
    manifests (partial writes surfaced by a non-atomic store) are skipped —
    the property that makes the single-file commit safe everywhere."""
    import json

    fs, found = _list_commit_files(spark, view_dir)
    out = []
    for seq, path in found:
        try:
            doc = json.loads(_fs_read_text(spark, fs, path))
            payload = doc["payload"]
            if doc.get("sha") == _manifest_digest(payload) and payload.get(
                "version"
            ) == _MANIFEST_VERSION:
                out.append((seq, payload))
        except Exception:
            continue  # torn or foreign file: fall back to previous seq
    return out


def current_commit(spark: SparkSession, view_dir: str):
    """Resolve the live manifest: highest valid sequence.
    Returns (seq, payload) or (None, None) for an empty/absent view."""
    commits = valid_commits(spark, view_dir)
    return commits[0] if commits else (None, None)


def _write_commit(spark: SparkSession, view_dir: str, seq: int, payload: dict):
    import json

    fs, _ = _hadoop_fs(spark, view_dir)
    jvm = spark._jvm
    commits = jvm.org.apache.hadoop.fs.Path(view_dir, _COMMITS_DIR)
    fs.mkdirs(commits)
    path = jvm.org.apache.hadoop.fs.Path(commits, f"c-{seq:010d}.json")
    _fs_write_new_file(
        fs, path, json.dumps({"payload": payload, "sha": _manifest_digest(payload)})
    )


def read_view(
    spark: SparkSession, view_dir: str, version: int | None = None
) -> DataFrame:
    """Read the maintained view via a manifest.

    Pure resolution, no mutation: a reader lists ``_commits/``, picks the
    highest checksum-valid manifest (or the retained commit named by
    ``version`` — time travel), and scans exactly the generation dirs it
    names — snapshot isolation against a live writer (the old rename
    protocol could expose a bucket as absent mid-commit; a manifest can
    only be seen whole or not at all)."""
    if version is None:
        _, payload = current_commit(spark, view_dir)
    else:
        payload = next(
            (p for s, p in valid_commits(spark, view_dir) if s == version), None
        )
        if payload is None:
            raise FileNotFoundError(
                f"no retained commit {version} at {view_dir} — raise the "
                "sink's retain_commits to keep history"
            )
    if payload is None or not payload["buckets"]:
        raise FileNotFoundError(f"no committed view at {view_dir}")
    dirs = [f"{view_dir}/{rel}" for rel in payload["buckets"].values()]
    return spark.read.parquet(*dirs)


def recover_view(
    spark: SparkSession, view_dir: str, retain_commits: int = 1
) -> None:
    """Garbage-collect after a crash (idempotent, writer-scope).

    With the manifest protocol nothing is ever half-renamed, so recovery is
    pure GC: drop generation dirs referenced by NO retained manifest
    (staged output of a crashed batch — the checkpoint replays it — or
    history beyond the retention window) and drop commit files outside the
    newest ``retain_commits`` valid ones (torn higher-sequence manifests
    and expired history). A crash at ANY point loses no rows: every
    retained manifest names complete, immutable generations."""
    fs, root = _hadoop_fs(spark, view_dir)
    if not fs.exists(root):
        return
    jvm = spark._jvm
    kept = valid_commits(spark, view_dir)[: max(1, retain_commits)]
    kept_seqs = {s for s, _ in kept}
    referenced = set()  # relative "data/<gen>/_bucket=N" paths still live
    for _, payload in kept:
        referenced |= set(payload["buckets"].values())
    gens_referenced = {rel.split("/")[1] for rel in referenced}
    data_root = jvm.org.apache.hadoop.fs.Path(root, _DATA_DIR)
    if fs.exists(data_root):
        for status in fs.listStatus(data_root):
            gen = status.getPath().getName()
            if gen not in gens_referenced:
                fs.delete(status.getPath(), True)
                continue
            # a later commit may have superseded SOME of this generation's
            # buckets: drop exactly the bucket subdirs no retained commit
            # references, so disk usage tracks the retained window
            for child in fs.listStatus(status.getPath()):
                name = child.getPath().getName()
                if (
                    name.startswith(f"{VIEW_BUCKET_COL}=")
                    and f"{_DATA_DIR}/{gen}/{name}" not in referenced
                ):
                    fs.delete(child.getPath(), True)
    _, found = _list_commit_files(spark, view_dir)
    for s, path in found:
        if not kept_seqs or s not in kept_seqs:
            fs.delete(path, False)


def _write_generation(merged: DataFrame, view_dir: str, epoch_id) -> dict:
    """Write one immutable generation dir holding the full new state of the
    touched buckets; returns {bucket: relative dir} for the manifest. The
    nonce keeps a replayed epoch from colliding with a generation the
    previous attempt may already have committed."""
    import uuid

    gen = f"g-{epoch_id}-{uuid.uuid4().hex[:8]}"
    (
        merged.write.mode("overwrite")
        .partitionBy(VIEW_BUCKET_COL)
        .parquet(f"{view_dir}/{_DATA_DIR}/{gen}")
    )
    spark = merged.sparkSession
    fs, _ = _hadoop_fs(spark, view_dir)
    gen_path = spark._jvm.org.apache.hadoop.fs.Path(
        f"{view_dir}/{_DATA_DIR}/{gen}"
    )
    out = {}
    for status in fs.listStatus(gen_path):
        name = status.getPath().getName()
        if name.startswith(f"{VIEW_BUCKET_COL}="):
            bucket = int(name.split("=", 1)[1])
            out[bucket] = f"{_DATA_DIR}/{gen}/{name}"
    return out


def _publish(
    spark, view_dir, seq, payload, new_entries, failpoint, n_buckets,
    retain_commits=1, key_col="transactionId",
):
    """Fold ``new_entries`` into the manifest and publish seq+1 (ONE small
    create-new file write — the commit point), then GC superseded state."""
    buckets = dict(payload["buckets"]) if payload else {}
    buckets.update({str(b): rel for b, rel in new_entries.items()})
    if failpoint is not None:
        failpoint("staged")
    _write_commit(
        spark,
        view_dir,
        (seq or 0) + 1,
        {
            "version": _MANIFEST_VERSION,
            "n_buckets": n_buckets,
            "key_col": key_col,
            "buckets": buckets,
        },
    )
    if failpoint is not None:
        failpoint("committed")
    # deferred cleanup — crash here just leaves garbage for the next GC
    recover_view(spark, view_dir, retain_commits)


def parquet_upsert_sink(
    view_dir: str,
    n_buckets: int = 64,
    failpoint=None,
    retain_commits: int = 1,
    key_col: str = "transactionId",
):
    """foreachBatch merge: upsert batch view-updates into a keyed parquet
    table bucketed by ``hash(key_col) % n_buckets`` (key defaults to the
    CDC view's transactionId; any unique key column works — the sink is a
    generic keyed-upsert engine component).

    Only the buckets actually touched by the batch are rewritten, and the
    old rows are read from exactly the manifest entries of those buckets —
    pruning by construction (untouched buckets' files are never listed,
    read, or replaced). Per-batch cost is O(touched buckets), not O(view
    size). Local stand-in for ``MERGE INTO`` on a Delta/Iceberg table
    (jars not in this image); the manifest commit is the same idea as
    their log-structured commit, scoped to this one table.

    CRASH GUARANTEE: new generations are immutable dirs invisible to
    readers until the single manifest write publishes them; a kill before
    the manifest write leaves the previous commit live (replay re-merges),
    a kill after it leaves the new commit live (replay's re-merge is
    idempotent: delete-by-key ∪ upsert). No rename anywhere — atomic on
    file:, HDFS, AND object stores (reference guarantee:
    TransactionViewUpsertService.kt:160-189).

    ``failpoint(step)`` (steps: "staged", "committed") is a test-only seam
    to simulate a crash around the commit point. ``retain_commits`` keeps
    the last N manifests (and the generations they reference) live for
    time travel (``read_view(version=)``) and to give concurrent readers a
    GC grace window of N−1 commits.
    """

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_view(spark, view_dir, retain_commits)
        seq, payload = current_commit(spark, view_dir)
        updates = batch_df.withColumn(
            VIEW_BUCKET_COL, view_bucket(key_col, n_buckets)
        ).cache()
        try:
            # metadata-sized collect: at most n_buckets ints
            touched = sorted(
                r[0] for r in updates.select(VIEW_BUCKET_COL).distinct().collect()
            )
            if not touched:
                return  # empty micro-batch: no generation, no commit churn
            old_dirs = (
                [
                    f"{view_dir}/{payload['buckets'][str(b)]}"
                    for b in touched
                    if str(b) in payload["buckets"]
                ]
                if payload
                else []
            )
            if old_dirs:
                old = spark.read.parquet(*old_dirs).withColumn(
                    VIEW_BUCKET_COL, view_bucket(key_col, n_buckets)
                )
                merged = old.join(
                    updates.select(key_col), key_col, "left_anti"
                ).unionByName(updates)
            else:
                merged = updates
            new_entries = _write_generation(merged, view_dir, epoch_id)
            _publish(
                spark, view_dir, seq, payload, new_entries, failpoint,
                n_buckets, retain_commits, key_col,
            )
        finally:
            updates.unpersist()

    return merge


def compact_view(
    spark: SparkSession,
    view_dir: str,
    max_files_per_bucket: int = 4,
    failpoint=None,
    retain_commits: int = 1,
) -> list[int]:
    """Compact fragmented view buckets back to one file each (small-file
    maintenance — the operational cost of per-batch bucket rewrites at
    100 TB: a long-running stream leaves each hot bucket with one file per
    touching batch, and scan/open cost grows with file count, not data).

    WRITER-SCOPE operation (same single-writer assumption as the sink; run
    it from the maintenance window or the foreachBatch callback, not beside
    a live stream). Only buckets whose manifest dir holds more than
    ``max_files_per_bucket`` data files are rewritten — one FileSystem
    listing pass, no Spark job for the untouched ones — and the rewrite
    publishes through the same single-manifest-write commit as the sink, so
    a crash mid-compact plus a re-run loses nothing (compaction changes
    layout, never data; it is idempotent). Returns the bucket ids
    compacted."""
    recover_view(spark, view_dir, retain_commits)
    seq, payload = current_commit(spark, view_dir)
    if payload is None:
        return []
    fs, _ = _hadoop_fs(spark, view_dir)
    jvm = spark._jvm
    touched = []
    for bucket_str, rel in payload["buckets"].items():
        bdir = jvm.org.apache.hadoop.fs.Path(f"{view_dir}/{rel}")
        n_files = sum(
            1
            for f in fs.listStatus(bdir)
            if f.getPath().getName().endswith(".parquet")
        )
        if n_files > max_files_per_bucket:
            touched.append(int(bucket_str))
    if not touched:
        return []
    touched.sort()
    n_buckets = payload["n_buckets"]
    key_col = payload.get("key_col", "transactionId")
    rows = spark.read.parquet(
        *[f"{view_dir}/{payload['buckets'][str(b)]}" for b in touched]
    ).withColumn(VIEW_BUCKET_COL, view_bucket(key_col, n_buckets))
    # repartition BY the bucket column: each bucket lands in exactly one
    # task → exactly one output file per bucket directory
    new_entries = _write_generation(
        rows.repartition(len(touched), VIEW_BUCKET_COL), view_dir, "compact"
    )
    _publish(
        spark, view_dir, seq, payload, new_entries, failpoint, n_buckets,
        retain_commits, key_col,
    )
    return touched


def start_view_maintenance(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    config: CdcConfig = DEFAULT_CONFIG,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
    n_buckets: int = 64,
):
    """Wire source → fold → sink and start the query (ST1)."""
    # S3 precedence: the fallback window applies ONLY on checkpoint miss —
    # on a restart the committed offsets win and events that arrived while
    # the query was down must still be ingested (the reference's Redis token
    # beats the fallback window, RedisResumePolicyService.kt:43-52)
    first_run = not checkpoint_has_offsets(spark, checkpoint_dir)
    raw = read_event_stream(
        spark,
        source_dir,
        fmt,
        max_files_per_trigger,
        fallback_minutes=config.fallback_minutes if first_run else None,
    )
    updates = stream_transactions_view(raw, config)
    return (
        updates.writeStream.outputMode("update")
        .foreachBatch(parquet_upsert_sink(view_dir, n_buckets))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_kafka_event_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_timestamp_ms: int | None = None,
    fallback_minutes: int | None = None,
):
    """Kafka twin of :func:`read_event_stream` — the production S1 source.

    Maps the reference's resume policy onto Kafka options
    (EcommerceTransactionsLogEventsStream.kt:74-94, RedisResumePolicyService.kt:37-53):

    - S2 resume-at-timestamp → ``startingTimestamp`` (first run only; once a
      checkpoint exists Spark's committed offsets win, which is exactly the
      reference's Redis-token-beats-fallback behavior)
    - S3 fallback window     → ``startingTimestamp = now - fallback``
    - F1/F3/T1 intake        → the same parse + filter chain as the file
      source: envelope JSON in the Kafka ``value``, malformed records
      quarantined, never fatal

    Returns (parsed envelope stream, quarantine stream). Requires the
    spark-sql-kafka connector on the classpath (not in this image — the
    builder is exercised for option wiring only; semantics are covered by
    the file-source twin, which shares every stage after ``load()``).
    """
    import time

    from ..sources.envelope_json import parse_envelope_lines

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("failOnDataLoss", "false")
    )
    if starting_timestamp_ms is not None:
        reader = reader.option("startingTimestamp", str(starting_timestamp_ms))
    elif fallback_minutes is not None:
        fallback_ms = int(time.time() * 1000) - fallback_minutes * 60_000
        reader = reader.option("startingTimestamp", str(fallback_ms))
    else:
        reader = reader.option("startingOffsets", "latest")
    raw = reader.load()
    lines = raw.selectExpr("CAST(value AS STRING) AS value")
    return parse_envelope_lines(lines)
