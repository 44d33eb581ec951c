"""Structured Streaming pipeline: event-log stream → maintained view table.

Spark translation of the reference's stream lifecycle
(EcommerceTransactionsLogEventsStream.kt:44-177):

- S1 change-stream source  → ``readStream`` (file source here; Kafka at prod
  scale — swap ``format``/options, the rest is unchanged)
- S2-S4 resume/checkpoint  → ``checkpointLocation`` (offsets + commits)
- F1-F3 intake filters     → the same :func:`prepare_events` expressions
- ST3 per-event lock/dedup → per-key seen-id list stored in the view rows
- ST2/ST4 retries          → micro-batch replay from checkpoint +
  ``spark.task.maxFailures``
- S5 upsert sink           → ``foreachBatch`` fold of each micro-batch onto
  the stored rows it touches, one commit per batch (Delta/Iceberg MERGE
  INTO in production; local parquet swap here)
- ST7 liveness             → :class:`listeners.LivenessListener`
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CdcConfig, DEFAULT_CONFIG
from ..operators.cdc_fold import (
    SEEN_COL,
    fold_onto_stored,
    no_poisoned,
    prepare_events,
)
from ..schemas import EVENT_ENVELOPE_TYPE


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
    """Raw envelope stream → the prepared event stream that
    :func:`parquet_upsert_sink` folds onto the view, one micro-batch at a
    time. The query is stateless; its rows carry ``_poisoned``, always
    null (see ``operators.cdc_fold.POISONED_COL``).

    The intake and fold row counters ride on the query as observed metrics
    (ST8) — attach a :class:`listeners.FoldMetricsListener` to consume them
    per micro-batch.
    """
    from .listeners import observe_fold, observe_intake

    prepared = observe_fold(prepare_events(observe_intake(raw_stream), config))
    return prepared.select("*", no_poisoned())


VIEW_BUCKET_COL = "_bucket"
VIEW_GEN_COL = "_gen"
_COMMITS_DIR = "_commits"
_DATA_DIR = "data"
_MANIFEST_VERSION = 2
_READABLE_VERSIONS = (1, _MANIFEST_VERSION)


def view_bucket(key_col: str, n_buckets: int):
    """Stable key → bucket id (Murmur3 ``hash`` is seed-fixed across runs)."""
    return F.pmod(F.hash(key_col), F.lit(n_buckets))


# ---------------------------------------------------------------------------
# Manifest-pointer commit protocol (object-store-atomic, rename-free).
#
# Layout:
#   <view_dir>/data/g-<epoch>-<nonce>/part-*.parquet
#       immutable generation dirs — written once, never renamed or mutated.
#       A generation holds the full new state of the buckets one merge (or
#       compaction) rewrote, as one file per write task with rows sorted by
#       ``_bucket``; every row carries its ``_bucket``, its generation
#       ``_gen`` (the dir's path relative to <view_dir>) and its key's
#       ``_seen`` event ids.
#   <view_dir>/_commits/c-<seq 10 digits>.json
#       immutable commit manifests; the LIVE table state is defined by the
#       highest-sequence manifest whose embedded checksum validates. A
#       manifest maps each bucket to the generation holding its live rows
#       (``buckets``) and records how many buckets each live generation was
#       written with (``gens``).
#
# A row is live iff the manifest maps its bucket to its generation: every
# reader keeps ``element_at(buckets, _bucket) = _gen`` and nothing else, so
# a later merge retires a bucket's rows in an older generation by moving
# one manifest entry, without touching a file. Version-1 manifests map a
# bucket to ``data/<gen>/_bucket=<b>``, a directory of that bucket alone
# whose files carry neither column; the same filter reads them, a null
# ``_gen`` counting as live.
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
            ) in _READABLE_VERSIONS:
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


def _with_layout_cols(schema):
    """``schema`` plus ``_bucket`` and ``_gen`` where it lacks them
    (version-1 files carry neither)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    extra = [
        StructField(name, typ)
        for name, typ in ((VIEW_BUCKET_COL, IntegerType()), (VIEW_GEN_COL, StringType()))
        if name not in schema.fieldNames()
    ]
    return StructType(schema.fields + extra)


def _live_rows(
    spark: SparkSession, view_dir: str, entries: dict, gens: dict, schema=None
) -> DataFrame:
    """The live rows of the buckets in ``entries`` ({bucket: relative dir},
    a manifest's ``buckets`` or part of it), with ``_bucket`` and ``_gen``.
    Each dir is scanned once however many buckets it serves, and a row is
    kept only when ``entries`` maps its bucket to its generation.
    ``schema`` (the data columns) spares the footer read that infers it;
    the inference reads a generation's footer where there is one, since
    version-1 files lack the layout columns."""
    if schema is None:
        probe = next(
            (rel for rel in entries.values() if rel in gens),
            next(iter(entries.values())),
        )
        schema = spark.read.parquet(f"{view_dir}/{probe}").schema
    live_gen = F.create_map(
        *[c for b, rel in entries.items() for c in (F.lit(int(b)), F.lit(rel))]
    )
    gen = F.col(VIEW_GEN_COL)
    return (
        spark.read.schema(_with_layout_cols(schema))
        .parquet(*[f"{view_dir}/{rel}" for rel in sorted(set(entries.values()))])
        .filter(gen.isNull() | (F.element_at(live_gen, F.col(VIEW_BUCKET_COL)) == gen))
    )


def read_commit(spark: SparkSession, view_dir: str, payload: dict) -> DataFrame:
    """The view as of one resolved manifest ``payload`` (its data columns
    only: no layout columns, no ``_seen``)."""
    return _live_rows(
        spark, view_dir, payload["buckets"], payload.get("gens", {})
    ).drop(VIEW_BUCKET_COL, VIEW_GEN_COL, SEEN_COL)


def read_view(
    spark: SparkSession, view_dir: str, version: int | None = None
) -> DataFrame:
    """Read the maintained view via a manifest.

    Pure resolution, no mutation: a reader lists ``_commits/``, picks the
    highest checksum-valid manifest (or the retained commit named by
    ``version`` — time travel), scans the generation dirs it names, and
    keeps a row only where that manifest maps the row's bucket to the row's
    generation — snapshot isolation against a live writer (a manifest can
    only be seen whole or not at all, and rows a later commit superseded
    are filtered by the manifest, not removed from files)."""
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
    return read_commit(spark, view_dir, payload)


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
    retained manifest names complete, immutable generations. Generations
    go whole: one still serving any bucket keeps its dead rows (and a
    version-1 generation its superseded bucket dirs) until
    :func:`compact_view` rewrites the live ones elsewhere."""
    fs, root = _hadoop_fs(spark, view_dir)
    if not fs.exists(root):
        return
    jvm = spark._jvm
    kept = valid_commits(spark, view_dir)[: max(1, retain_commits)]
    kept_seqs = {s for s, _ in kept}
    # "data/<gen>" or, version 1, "data/<gen>/_bucket=N" → <gen>
    referenced = {
        rel.split("/")[1] for _, payload in kept for rel in payload["buckets"].values()
    }
    data_root = jvm.org.apache.hadoop.fs.Path(root, _DATA_DIR)
    if fs.exists(data_root):
        for status in fs.listStatus(data_root):
            if status.getPath().getName() not in referenced:
                fs.delete(status.getPath(), True)
    _, found = _list_commit_files(spark, view_dir)
    for s, path in found:
        if not kept_seqs or s not in kept_seqs:
            fs.delete(path, False)


def _write_generation(rows: DataFrame, view_dir: str, epoch_id) -> str:
    """Write ``rows`` (the full new state of the buckets they cover, with
    ``_bucket``) as one immutable generation dir, one file per write task
    sorted by bucket; returns its relative dir, which every row carries as
    ``_gen``. The nonce keeps a replayed epoch from colliding with a
    generation the previous attempt may already have committed."""
    import uuid

    gen = f"{_DATA_DIR}/g-{epoch_id}-{uuid.uuid4().hex[:8]}"
    (
        rows.withColumn(VIEW_GEN_COL, F.lit(gen))
        .sortWithinPartitions(VIEW_BUCKET_COL)
        .write.mode("overwrite")
        .parquet(f"{view_dir}/{gen}")
    )
    return gen


def _publish(
    spark, view_dir, seq, payload, gen, touched, failpoint, n_buckets,
    retain_commits=1,
):
    """Point the ``touched`` buckets at generation ``gen`` and publish
    seq+1 (ONE small create-new file write — the commit point), then GC
    superseded state."""
    prior = payload or {}
    buckets = {**prior.get("buckets", {}), **{str(b): gen for b in touched}}
    serving = set(buckets.values())
    gens = {rel: n for rel, n in prior.get("gens", {}).items() if rel in serving}
    gens[gen] = len(touched)
    if failpoint is not None:
        failpoint("staged")
    _write_commit(
        spark,
        view_dir,
        (seq or 0) + 1,
        {
            "version": _MANIFEST_VERSION,
            "n_buckets": n_buckets,
            "buckets": buckets,
            "gens": gens,
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
    fold: str = "view",
    seen_ids_cap: int = DEFAULT_CONFIG.seen_ids_cap,
):
    """foreachBatch merge: fold each micro-batch of prepared events (as
    :func:`stream_transactions_view` emits them) onto a keyed parquet table
    bucketed by ``hash(transactionId) % n_buckets``. ``fold`` selects what
    the table holds, one row per transaction (``operators.cdc_fold.
    FOLD_STEPS``): the transactions ``"view"``, its per-field ``"lineage"``
    or its status ``"history"``. The table is the fold's whole state: each
    row also carries the guard (``lastProcessedEventAt``) and its key's
    last ``seen_ids_cap`` event ids (``_seen``, which readers never see).

    Each merge folds the batch onto the stored rows of the buckets it
    touched (``operators.cdc_fold.fold_onto_stored``), writes their full
    new state as ONE new generation — one file per write task, rows sorted
    by bucket — and repoints those buckets' manifest entries at it. The
    stored rows are read from the generations the manifest names for the
    touched buckets only, with ``_bucket IN touched`` pushed into the scan
    so row groups of other buckets are skipped; untouched buckets' entries
    and files are never replaced. Per-batch cost is the touched rows (plus
    the row groups the sorted ``_bucket`` cannot skip), not the table size.
    Local stand-in for ``MERGE INTO`` on a Delta/Iceberg table (jars not in
    this image); the manifest commit is the same idea as their
    log-structured commit, scoped to this one table.

    CRASH GUARANTEE: new generations are immutable dirs invisible to
    readers until the single manifest write publishes them; a kill before
    the manifest write leaves the previous commit live (replay re-merges),
    a kill after it leaves the new commit live, and the replay's re-merge
    changes nothing: every event id it carries is in its key's ``_seen``.
    No rename anywhere — atomic on file:, HDFS, AND object stores
    (reference guarantee: TransactionViewUpsertService.kt:160-189).

    ``failpoint(step)`` (steps: "staged", "committed") is a test-only seam
    to simulate a crash around the commit point. ``retain_commits`` keeps
    the last N manifests (and the generations they reference) live for
    time travel (``read_view(version=)``) and to give concurrent readers a
    GC grace window of N−1 commits.
    """
    stored_type, fold_batch = fold_onto_stored(fold, seen_ids_cap)
    bucket = view_bucket("transactionId", n_buckets)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_view(spark, view_dir, retain_commits)
        seq, payload = current_commit(spark, view_dir)
        events = batch_df.cache()
        try:
            # metadata-sized collect: at most n_buckets ints
            touched = sorted(r[0] for r in events.select(bucket).distinct().collect())
            if not touched:
                return  # empty micro-batch: no generation, no commit churn
            live = payload["buckets"] if payload else {}
            old_entries = {str(b): live[str(b)] for b in touched if str(b) in live}
            stored = None
            if old_entries:
                # Version-1 rows carry no _bucket: the IN conjunct spares
                # them by that null (phrased on _gen, the optimizer would
                # fold it into the liveness filter, which cannot be pushed
                # into the scan); the fold recomputes the bucket.
                b = F.col(VIEW_BUCKET_COL)
                stored = _live_rows(
                    spark, view_dir, old_entries, payload.get("gens", {}), stored_type
                ).filter(b.isin(touched) | b.isNull())
            rows = fold_batch(events, stored).withColumn(VIEW_BUCKET_COL, bucket)
            gen = _write_generation(rows, view_dir, epoch_id)
            _publish(
                spark, view_dir, seq, payload, gen, touched, failpoint,
                n_buckets, retain_commits,
            )
        finally:
            events.unpersist()

    return merge


def compact_view(
    spark: SparkSession,
    view_dir: str,
    failpoint=None,
    retain_commits: int = 1,
) -> list[int]:
    """Rewrite away the dead rows the shared generations accrete (storage
    maintenance). A merge moves the buckets it touched to a new generation,
    so every older generation that also served one of them keeps a dead
    copy of its rows on disk, and keeps them in the scans of the buckets it
    still serves, until no retained commit names the generation at all.

    WRITER-SCOPE operation (same single-writer assumption as the sink; run
    it from the maintenance window or the foreachBatch callback, not beside
    a live stream). The live buckets of every generation that serves fewer
    buckets than it was written with, plus every version-1 entry, are
    rewritten into ONE new generation — chosen from the manifest alone, no
    listing and no Spark job when none qualifies — and published through
    the same single-manifest-write commit as the sink, so a crash
    mid-compact plus a re-run loses nothing (compaction changes layout,
    never data; it is idempotent). Returns the bucket ids rewritten."""
    from collections import Counter

    recover_view(spark, view_dir, retain_commits)
    seq, payload = current_commit(spark, view_dir)
    if payload is None:
        return []
    gens = payload.get("gens", {})
    serving = Counter(payload["buckets"].values())
    # a version-1 entry, or a generation that holds dead rows
    stale = {rel for rel, n in serving.items() if rel not in gens or n < gens[rel]}
    entries = {b: rel for b, rel in payload["buckets"].items() if rel in stale}
    if not entries:
        return []
    n_buckets = payload["n_buckets"]
    rows = (
        _live_rows(spark, view_dir, entries, gens)
        .drop(VIEW_GEN_COL)
        .withColumn(VIEW_BUCKET_COL, view_bucket("transactionId", n_buckets))
    )
    touched = sorted(int(b) for b in entries)
    gen = _write_generation(rows, view_dir, "compact")
    _publish(
        spark, view_dir, seq, payload, gen, touched, failpoint, n_buckets,
        retain_commits,
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
    events = stream_transactions_view(raw, config)
    sink = parquet_upsert_sink(view_dir, n_buckets, seen_ids_cap=config.seen_ids_cap)
    return (
        events.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# the bound on every run-to-completion stream: a hung drain fails its own
# query instead of exhausting the caller's whole time budget
DRAIN_TIMEOUT_S = 240


def drain(writer, ckpt: str, what: str) -> None:
    """Run ``writer`` (a ``DataStreamWriter``) to completion on checkpoint
    ``ckpt``: one ``availableNow`` query that processes everything present
    at its start, then stops. Waits at most :data:`DRAIN_TIMEOUT_S`; on
    timeout the query is stopped and ``TimeoutError`` names ``what``.
    Draining again on the same checkpoint resumes from its committed
    offsets (a restart)."""
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{what}: availableNow run did not finish in {DRAIN_TIMEOUT_S}s"
        )


def drain_to_memory(stream: DataFrame, mode: str, ckpt: str, what: str) -> DataFrame:
    """:func:`drain` ``stream`` into a memory sink in output mode ``mode``;
    returns the sink's table (named here, unique per call)."""
    import uuid

    name = f"drain_{uuid.uuid4().hex}"
    drain(
        stream.writeStream.format("memory").queryName(name).outputMode(mode),
        ckpt,
        what,
    )
    return stream.sparkSession.table(name)


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
