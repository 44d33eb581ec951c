"""Differential test: streaming incremental fold == batch fold == oracle.

The same event log is replayed three ways — batch DataFrame fold, Structured
Streaming stateful fold (4 micro-batches via maxFilesPerTrigger=1), and the
pure-Python reference replay — and all three views must match exactly
(SURVEY.md §5b).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pagopa_ecommerce_cdc_service_spark.operators import transactions_view_from_log
from pagopa_ecommerce_cdc_service_spark.schemas import EVENT_ENVELOPE_TYPE
from pagopa_ecommerce_cdc_service_spark.sources import generate_event_log
from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
    read_view,
    start_view_maintenance,
)

from reference_replay import replay_reference
from test_cdc_fold import assert_views_equal, normalize


def _write_chunks(events, log_dir, n_chunks=4):
    os.makedirs(log_dir, exist_ok=True)
    chunk = (len(events) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = events[i * chunk : (i + 1) * chunk]
        path = os.path.join(log_dir, f"chunk-{i:03d}.json")
        with open(path, "w") as f:
            for e in part:
                f.write(json.dumps(e) + "\n")
        # file source picks up files in mtime order → force arrival order
        mtime = time.time() - (n_chunks - i) * 10
        os.utime(path, (mtime, mtime))


@pytest.mark.parametrize("seed", [11, 42])
def test_streaming_matches_batch_and_oracle(spark, tmp_path, seed):
    events = generate_event_log(seed=seed, n_transactions=40, p_duplicate=0.1)
    log_dir = str(tmp_path / "log")
    view_dir = str(tmp_path / "view")
    ckpt_dir = str(tmp_path / "ckpt")
    _write_chunks(events, log_dir, n_chunks=4)

    q = start_view_maintenance(
        spark, log_dir, view_dir, ckpt_dir, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    stream_rows = read_view(spark, view_dir).collect()
    stream_views = {r["transactionId"]: r.asDict(recursive=True) for r in stream_rows}

    batch_df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    batch_rows = transactions_view_from_log(batch_df).collect()
    batch_views = {r["transactionId"]: r.asDict(recursive=True) for r in batch_rows}

    oracle_views = replay_reference(events)

    assert_views_equal(stream_views, oracle_views)
    assert_views_equal(batch_views, oracle_views)
    assert {k: normalize(v) for k, v in stream_views.items()} == {
        k: normalize(v) for k, v in batch_views.items()
    }


def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """Kill the query mid-log, restart with the same checkpoint: the final
    view must be identical (S2-S4 resume semantics, exactly-once effect)."""
    events = generate_event_log(seed=77, n_transactions=25)
    log_dir = str(tmp_path / "log")
    view_dir = str(tmp_path / "view")
    ckpt_dir = str(tmp_path / "ckpt")

    half = len(events) // 2
    _write_chunks(events[:half], log_dir, n_chunks=2)
    q = start_view_maintenance(spark, log_dir, view_dir, ckpt_dir, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # late files arrive while the query is down
    chunk_path = os.path.join(log_dir, "late-chunk.json")
    with open(chunk_path, "w") as f:
        for e in events[half:]:
            f.write(json.dumps(e) + "\n")

    q2 = start_view_maintenance(spark, log_dir, view_dir, ckpt_dir, max_files_per_trigger=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    stream_rows = read_view(spark, view_dir).collect()
    stream_views = {r["transactionId"]: r.asDict(recursive=True) for r in stream_rows}
    assert_views_equal(stream_views, replay_reference(events))


def test_fallback_start_offset_skips_stale_files(spark, tmp_path):
    """S3 fallback start offset on the file source: with no checkpoint and a
    fallback window, files older than the window are not ingested — the
    reference's checkpoint-miss policy (RedisResumePolicyService.kt:43-52)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        read_event_stream,
        stream_transactions_view,
    )

    events = generate_event_log(seed=3, n_transactions=10)
    mid = len(events) // 2
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    stale = log_dir / "stale.json"
    fresh = log_dir / "fresh.json"
    stale.write_text("\n".join(json.dumps(e) for e in events[:mid]))
    fresh.write_text("\n".join(json.dumps(e) for e in events[mid:]))
    old = time.time() - 2 * 3600
    os.utime(stale, (old, old))

    q = (
        stream_transactions_view(
            read_event_stream(spark, str(log_dir), fallback_minutes=60)
        )
        .writeStream.format("memory")
        .queryName("fallback_demo")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    folded = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in spark.table("fallback_demo").collect()
    }
    # exactly the view of the fresh half: replaying only events[mid:]
    assert folded.keys() == replay_reference(events[mid:]).keys()
    assert_views_equal(folded, replay_reference(events[mid:]))


def test_fallback_not_applied_on_restart(spark, tmp_path):
    """S3 precedence: once a checkpoint exists, committed offsets win — a
    file that ARRIVED while the query was down (even with an old mtime) must
    still be ingested on restart; the fallback window applies only to the
    checkpointless first run (reference: Redis token beats the fallback,
    RedisResumePolicyService.kt:43-52)."""
    from pagopa_ecommerce_cdc_service_spark.config import CdcConfig
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import read_view

    cfg = CdcConfig(fallback_minutes=60)
    events = generate_event_log(seed=13, n_transactions=8)
    mid = len(events) // 2
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    view_dir, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")

    (log_dir / "fresh.json").write_text(
        "\n".join(json.dumps(e) for e in events[:mid])
    )
    q = start_view_maintenance(spark, str(log_dir), view_dir, ckpt, config=cfg)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # while the query is down, a file arrives bearing an OLD mtime (e.g.
    # restored from a backlog) — outside any freshly-computed fallback window
    late = log_dir / "late.json"
    late.write_text("\n".join(json.dumps(e) for e in events[mid:]))
    old = time.time() - 3 * 3600
    os.utime(late, (old, old))

    q2 = start_view_maintenance(spark, str(log_dir), view_dir, ckpt, config=cfg)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    views = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in read_view(spark, view_dir).collect()
    }
    assert_views_equal(views, replay_reference(events))


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucketed sink's point: a micro-batch touching one transaction must
    leave every other bucket's parquet files untouched on disk (same paths,
    same bytes, same mtimes) — per-batch cost O(touched buckets)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        current_commit,
        parquet_upsert_sink,
        view_bucket,
    )

    view_dir = str(tmp_path / "view")
    sink = parquet_upsert_sink(view_dir, n_buckets=8)

    events = generate_event_log(seed=5, n_transactions=30)
    batch1 = transactions_view_from_log(
        spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    )
    sink(batch1, epoch_id=0)

    def bucket_files():
        out = {}
        for root, _dirs, files in os.walk(view_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    touched_bucket = spark.range(1).select(
        view_bucket(F.lit(events[0]["transactionId"]), 8).alias("b")
    ).collect()[0]["b"]
    _, payload1 = current_commit(spark, view_dir)
    old_touched_dir = os.path.join(view_dir, payload1["buckets"][str(touched_bucket)])

    before = bucket_files()
    # second batch: update exactly one existing transaction
    one_tx = events[0]["transactionId"]
    batch2 = transactions_view_from_log(
        spark.createDataFrame(
            [e for e in events if e["transactionId"] == one_tx],
            schema=EVENT_ENVELOPE_TYPE,
        )
    )
    sink(batch2, epoch_id=1)
    after = bucket_files()
    _, payload2 = current_commit(spark, view_dir)
    new_touched_dir = os.path.join(view_dir, payload2["buckets"][str(touched_bucket)])

    # the manifest moved exactly the touched bucket to a new generation dir;
    # every other bucket's entry — and its on-disk files — is untouched
    assert new_touched_dir != old_touched_dir
    assert {
        b: rel for b, rel in payload1["buckets"].items() if b != str(touched_bucket)
    } == {b: rel for b, rel in payload2["buckets"].items() if b != str(touched_bucket)}
    untouched_before = {
        p: v for p, v in before.items() if not p.startswith(old_touched_dir)
    }
    untouched_after = {
        p: v for p, v in after.items() if not p.startswith(new_touched_dir)
    }
    assert untouched_before, "expected data outside the touched bucket"
    assert untouched_before == untouched_after
    # merged result is still the full fold
    merged = read_view(spark, view_dir)
    assert merged.count() == batch1.count()


def test_kafka_reader_option_wiring(spark):
    """The Kafka source builder wires resume options correctly (no broker or
    connector jar in this image: assert the constructed plan's options, the
    load itself is covered by the file-source twin)."""
    import pytest

    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        read_kafka_event_stream,
    )

    try:
        good, quar = read_kafka_event_stream(
            spark, "broker:9092", "eventstore", starting_timestamp_ms=1700000000000
        )
    except Exception as exc:  # connector jar absent → fine, wiring exercised
        assert "kafka" in str(exc).lower()
        pytest.skip("kafka connector not on classpath")
    assert "id" in good.columns and quar.columns == ["raw_record"]


def test_kafka_reader_resume_contract(spark, monkeypatch):
    """Contract-level gate for the Kafka source (no broker in this image):
    intercept the DataStreamReader the builder drives and assert the resume
    policy lands in the right options, mirroring the reference's precedence
    (EcommerceTransactionsLogEventsStream.kt:74-94,
    RedisResumePolicyService.kt:37-53):

    - explicit resume token   → startingTimestamp = that timestamp
    - no token, fallback set  → startingTimestamp = now − fallback window
    - neither                 → startingOffsets=latest
    - failOnDataLoss disabled and the topic subscribed in every mode

    The post-``load()`` stages (JSON envelope parse, quarantine) are the
    same code path as the file-source twin, which streams under the hard
    gate every round — so this test plus the file twin covers the full
    Kafka path except the socket itself."""
    import time as _time

    from pyspark.sql.streaming import readwriter as _rw

    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        read_kafka_event_stream,
    )

    captured: list[dict] = []

    class FakeReader:
        def __init__(self, spark_session):
            self._opts: dict = {}
            self._fmt = None
            self._spark = spark_session

        def format(self, fmt):
            self._fmt = fmt
            return self

        def option(self, k, v):
            self._opts[k] = v
            return self

        def load(self):
            captured.append({"format": self._fmt, **self._opts})
            # hand back a DF shaped like the Kafka source's output so the
            # downstream envelope parse builds on it unchanged
            return self._spark.createDataFrame(
                [], "key binary, value binary, topic string, partition int, "
                "offset long, timestamp timestamp, timestampType int"
            )

    monkeypatch.setattr(
        type(spark), "readStream", property(lambda s: FakeReader(s))
    )

    # mode 1: explicit resume token wins
    good, quar = read_kafka_event_stream(
        spark, "broker:9092", "eventstore", starting_timestamp_ms=1700000000000
    )
    assert "id" in good.columns and quar.columns == ["raw_record"]
    opts = captured[-1]
    assert opts["format"] == "kafka"
    assert opts["subscribe"] == "eventstore"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["failOnDataLoss"] == "false"
    assert opts["startingTimestamp"] == "1700000000000"
    assert "startingOffsets" not in opts

    # mode 2: fallback window (S3) when no token exists
    before_ms = int(_time.time() * 1000) - 30 * 60_000
    read_kafka_event_stream(spark, "b:9092", "t", fallback_minutes=30)
    after_ms = int(_time.time() * 1000) - 30 * 60_000
    got = int(captured[-1]["startingTimestamp"])
    assert before_ms <= got <= after_ms

    # mode 3: neither → start at latest, no timestamp option
    read_kafka_event_stream(spark, "b:9092", "t")
    opts = captured[-1]
    assert opts["startingOffsets"] == "latest"
    assert "startingTimestamp" not in opts


def test_upsert_sink_idempotent_under_batch_replay(spark, tmp_path):
    """foreachBatch delivery is at-least-once: a replayed micro-batch (same
    rows, new epoch) must leave the view byte-identical — the upsert's
    anti-join + overwrite-by-bucket is idempotent by construction."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        read_view,
    )

    view_dir = str(tmp_path / "view")
    sink = parquet_upsert_sink(view_dir, n_buckets=8)
    events = generate_event_log(seed=9, n_transactions=20)
    batch = transactions_view_from_log(
        spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    )
    sink(batch, epoch_id=0)
    first = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in read_view(spark, view_dir).collect()
    }
    sink(batch, epoch_id=0)  # crash-replay of the same epoch
    replayed = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in read_view(spark, view_dir).collect()
    }
    assert replayed == first


def test_upsert_sink_commit_protocol_is_rename_free(spark, tmp_path, monkeypatch):
    """Object-store atomicity by construction: the sink's commit protocol
    must never call FileSystem.rename — on S3-likes rename is a non-atomic
    copy+delete, the exact crash window the manifest protocol exists to
    close. Simulated by a proxy FS that fails hard on any rename while
    merge, compaction, and recovery all run."""
    from pagopa_ecommerce_cdc_service_spark.streaming import pipeline

    class NoRenameFs:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, *a, **k):
            raise AssertionError("commit protocol called rename on a no-rename store")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = pipeline._hadoop_fs
    monkeypatch.setattr(
        pipeline, "_hadoop_fs", lambda s, p: (lambda fs, pt: (NoRenameFs(fs), pt))(*real(s, p))
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=23, n_transactions=16)
    tx_ids = sorted({e["transactionId"] for e in events})
    sink = pipeline.parquet_upsert_sink(view_dir, n_buckets=4)
    for i, tx in enumerate(tx_ids[:6]):
        sink(
            transactions_view_from_log(
                spark.createDataFrame(
                    [e for e in events if e["transactionId"] == tx],
                    schema=EVENT_ENVELOPE_TYPE,
                )
            ),
            epoch_id=i,
        )
    pipeline.compact_view(spark, view_dir, max_files_per_bucket=1)
    pipeline.recover_view(spark, view_dir)
    assert read_view(spark, view_dir).count() == 6


def test_torn_manifest_falls_back_to_previous_commit(spark, tmp_path):
    """A store that exposes in-progress writes can surface a PARTIAL commit
    file; its checksum fails, so readers must fall back to the previous
    manifest (never a corrupt or half-visible table), and the writer's GC
    must clear the torn file so the sequence is reusable."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        recover_view,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=29, n_transactions=12)
    sink = parquet_upsert_sink(view_dir, n_buckets=4)
    sink(
        transactions_view_from_log(
            spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
        ),
        epoch_id=0,
    )
    before = _view_state(spark, view_dir)

    torn = os.path.join(view_dir, "_commits", "c-0000000002.json")
    with open(torn, "w") as f:
        f.write('{"payload": {"version": 1, "buckets": {"0": "data/g-lost')

    assert _view_state(spark, view_dir) == before  # reader falls back
    recover_view(spark, view_dir)
    assert not os.path.exists(torn)
    # the writer proceeds normally on the recovered sequence
    one_tx = events[0]["transactionId"]
    sink(
        transactions_view_from_log(
            spark.createDataFrame(
                [e for e in events if e["transactionId"] == one_tx],
                schema=EVENT_ENVELOPE_TYPE,
            )
        ),
        epoch_id=1,
    )
    after = _view_state(spark, view_dir)
    assert set(after) == set(before)
    _assert_no_orphans(spark, view_dir)


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window aggregation in streaming mode produces
    exactly the batch answer once the watermark passes every real window
    (append mode emits only finalized windows — a far-future flush event
    advances the watermark past the real data deterministically)."""
    from pyspark.sql import functions as F
    from pagopa_ecommerce_cdc_service_spark.plans.helpers import dec, money_sum, read

    ev = read(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    src = tmp_path / "evsrc"
    real, flush = str(src / "real.parquet"), str(src / "flush.parquet")
    ev.coalesce(1).write.parquet(real)
    spark.createDataFrame(
        [(max_ts, "__flush__", 0.0)], "ts timestamp, event_type string, value double"
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 HOURS")).write.parquet(flush)
    # file source picks up files in mtime order: real data, then the flush
    for i, d in enumerate((real, flush)):
        for root, _dirs, files in os.walk(d):
            for fn in files:
                m = time.time() - 20 + i * 10
                os.utime(os.path.join(root, fn), (m, m))

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum(dec("value"), "sum_value"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_demo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.table("win_demo").collect()
        if r["event_type"] != "__flush__"
    }
    expected = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum(dec("value"), "sum_value"))
        .collect()
    }
    assert got == expected


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """ST3's native Spark primitive (SURVEY §2.5): duplicate event ids
    arriving within the watermark window are delivered once downstream —
    the stream-level twin of the fold's (key, id) dedup."""
    import json

    src = tmp_path / "dups"
    src.mkdir()
    rows = [
        {"id": "e1", "ts": "2025-01-01T00:00:00.000Z", "v": 1},
        {"id": "e1", "ts": "2025-01-01T00:00:01.000Z", "v": 2},  # dup id
        {"id": "e2", "ts": "2025-01-01T00:00:02.000Z", "v": 3},
        {"id": "e2", "ts": "2025-01-01T00:00:02.000Z", "v": 4},  # dup id
        {"id": "e3", "ts": "2025-01-01T00:10:00.000Z", "v": 5},
    ]
    (src / "part-0.json").write_text("\n".join(json.dumps(r) for r in rows))

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema("id string, ts string, v long")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_demo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.table("dedup_demo").collect()
    assert sorted(r.id for r in out) == ["e1", "e2", "e3"]
    # first delivery wins, duplicates within the watermark dropped
    by_id = {r.id: r.v for r in out}
    assert by_id["e1"] == 1 and by_id["e2"] == 3


def test_view_state_ttl_wiring_executes_end_to_end(spark, tmp_path):
    """CdcConfig.view_state_ttl_seconds arms ProcessingTimeTimeout on the
    real applyInPandasWithState query. With a TTL far longer than the run,
    no key expires, so the maintained view must equal the batch fold —
    proving the timeout wiring executes without disturbing the fold.

    A TTL-armed query never reports itself drained (the engine keeps
    scheduling timer-evaluation batches), so this test polls the sink for
    the expected keys and stops the query explicitly — the documented
    operating mode for the knob. Expire/re-insert semantics are unit-tested
    in test_state_fold.py (wall-clock timeout firing is not test-stable).

    Flake history (full-suite load only; green in isolation every time):
    r6 + r8 poll timeout on a degraded host, r13 a java.util.regex
    StackOverflowError killing the stream-execution thread late in the
    suite JVM. Hardened in r14 at the harness level — conftest runs this
    test FIRST (fresh JVM = the isolated-run condition under which it has
    never failed) and bumps the driver thread stack (-Xss16m)."""
    from dataclasses import replace

    from pagopa_ecommerce_cdc_service_spark.config import DEFAULT_CONFIG

    events = generate_event_log(seed=5, n_transactions=20)
    expected_keys = {e["transactionId"] for e in events}
    log_dir = str(tmp_path / "log")
    view_dir = str(tmp_path / "view")
    ckpt_dir = str(tmp_path / "ckpt")
    _write_chunks(events, log_dir, n_chunks=2)

    cfg = replace(DEFAULT_CONFIG, view_state_ttl_seconds=3600.0)
    q = start_view_maintenance(
        spark, log_dir, view_dir, ckpt_dir, config=cfg, max_files_per_trigger=1
    )
    try:
        # the TTL query interleaves timer-evaluation batches with the two
        # file batches; under full-suite load 120 s proved flaky in round 6
        # and 240 s once in round 8 on a host measured 10-30% degraded
        # (passed in isolation both times) — budget doubled again; the
        # query is stopped the moment the keys converge, so the budget is
        # a ceiling, not a wait
        deadline = time.time() + 480
        while time.time() < deadline:
            try:
                keys = {
                    r["transactionId"]
                    for r in read_view(spark, view_dir).select("transactionId").collect()
                }
            except Exception:  # view dir not written yet
                keys = set()
            if keys == expected_keys:
                break
            time.sleep(0.5)
        assert keys == expected_keys
    finally:
        q.stop()

    stream_views = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in read_view(spark, view_dir).collect()
    }
    batch_df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    batch_views = {
        r["transactionId"]: r.asDict(recursive=True)
        for r in transactions_view_from_log(batch_df).collect()
    }
    assert {k: normalize(v) for k, v in stream_views.items()} == {
        k: normalize(v) for k, v in batch_views.items()
    }


def _view_state(spark, view_dir):
    return {
        r["transactionId"]: r.asDict(recursive=True)
        for r in read_view(spark, view_dir).collect()
    }


def _assert_no_orphans(spark, view_dir):
    """The directory holds exactly the live commit's state: one commit file,
    and every on-disk bucket dir referenced by it (GC left no garbage)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        VIEW_BUCKET_COL,
        current_commit,
    )

    _, payload = current_commit(spark, view_dir)
    referenced = set(payload["buckets"].values())
    base = view_dir[len("file:"):] if view_dir.startswith("file:") else view_dir
    commits = [
        f
        for f in os.listdir(os.path.join(base, "_commits"))
        if f.startswith("c-") and f.endswith(".json")
    ]
    assert len(commits) == 1, commits
    on_disk = set()
    data_root = os.path.join(base, "data")
    for gen in os.listdir(data_root):
        for child in os.listdir(os.path.join(data_root, gen)):
            if child.startswith(f"{VIEW_BUCKET_COL}="):
                on_disk.add(f"data/{gen}/{child}")
    assert on_disk == referenced


@pytest.mark.parametrize("kill_step", ["staged", "committed"])
def test_upsert_sink_kill_mid_commit_loses_no_rows(spark, tmp_path, kill_step):
    """Crash atomicity (reference guarantee: Mongo's per-document atomic
    upsert, TransactionViewUpsertService.kt:160-189): kill the sink right
    before or right after the single manifest-commit write, then replay the
    batch — the view must equal the no-crash outcome, INCLUDING rows of the
    touched bucket that were not in the in-flight batch (the exact rows a
    delete-then-rewrite sink could drop)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=11, n_transactions=40)
    batch1 = transactions_view_from_log(
        spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    )
    parquet_upsert_sink(view_dir, n_buckets=4)(batch1, epoch_id=0)
    baseline = _view_state(spark, view_dir)
    assert len(baseline) == batch1.count() > 30

    # batch 2 updates ONE transaction; with 4 buckets its bucket holds ~10
    # other transactions that must survive the crash
    one_tx = events[0]["transactionId"]
    batch2 = transactions_view_from_log(
        spark.createDataFrame(
            [e for e in events if e["transactionId"] == one_tx],
            schema=EVENT_ENVELOPE_TYPE,
        )
    )

    class Kill(RuntimeError):
        pass

    def failpoint(step):
        if step == kill_step:
            raise Kill(f"simulated kill at {step}")

    with pytest.raises(Kill):
        parquet_upsert_sink(view_dir, n_buckets=4, failpoint=failpoint)(
            batch2, epoch_id=1
        )

    # checkpoint replay: same batch, fresh sink (recovery runs first)
    parquet_upsert_sink(view_dir, n_buckets=4)(batch2, epoch_id=1)
    recovered = _view_state(spark, view_dir)

    assert set(recovered) == set(baseline), "rows lost or invented by crash"
    assert recovered == {**baseline, one_tx: recovered[one_tx]}
    _assert_no_orphans(spark, view_dir)


def test_upsert_sink_and_recovery_honor_path_uris(spark, tmp_path):
    """Path probes must go through the Hadoop FileSystem API: with a
    scheme-qualified ``file:`` URI (the local stand-in for hdfs://s3a://),
    an ``os.path.exists`` probe is ALWAYS false — the sink would take the
    first-merge branch on every batch and overwrite instead of merge."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
    )

    view_dir = f"file:{tmp_path}/view"
    events = generate_event_log(seed=13, n_transactions=12)
    tx_ids = sorted({e["transactionId"] for e in events})
    half_ids = set(tx_ids[: len(tx_ids) // 2])
    half = [e for e in events if e["transactionId"] in half_ids]
    rest = [e for e in events if e["transactionId"] not in half_ids]
    sink = parquet_upsert_sink(view_dir, n_buckets=4)
    sink(
        transactions_view_from_log(
            spark.createDataFrame(rest, schema=EVENT_ENVELOPE_TYPE)
        ),
        epoch_id=0,
    )
    n_first = read_view(spark, view_dir).count()
    assert n_first > 0
    sink(
        transactions_view_from_log(
            spark.createDataFrame(half, schema=EVENT_ENVELOPE_TYPE)
        ),
        epoch_id=1,
    )
    # merge, not overwrite: both halves present
    assert read_view(spark, view_dir).count() == len(tx_ids)


def test_compact_view_single_file_per_bucket_same_rows(spark, tmp_path):
    """After many small merges each hot bucket holds one file per batch;
    compaction must collapse each fragmented bucket to ONE file without
    changing a single row, and be a no-op the second time."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        VIEW_BUCKET_COL,
        compact_view,
        parquet_upsert_sink,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=17, n_transactions=30)
    tx_ids = sorted({e["transactionId"] for e in events})
    sink = parquet_upsert_sink(view_dir, n_buckets=2)
    # 6 single-transaction batches -> every touched bucket accretes files
    for i, tx in enumerate(tx_ids):
        batch = transactions_view_from_log(
            spark.createDataFrame(
                [e for e in events if e["transactionId"] == tx],
                schema=EVENT_ENVELOPE_TYPE,
            )
        )
        sink(batch, epoch_id=i)
    before = _view_state(spark, view_dir)

    def files_per_bucket():
        out = {}
        for root, _dirs, files in os.walk(view_dir):
            base = os.path.basename(root)
            if base.startswith(f"{VIEW_BUCKET_COL}="):
                out[base] = out.get(base, 0) + sum(
                    1 for f in files if f.endswith(".parquet")
                )
        return out

    assert max(files_per_bucket().values()) > 4, "fixture not fragmented"
    compacted = compact_view(spark, view_dir, max_files_per_bucket=4)
    assert compacted, "nothing compacted"
    assert all(n == 1 for n in files_per_bucket().values()), files_per_bucket()
    assert _view_state(spark, view_dir) == before
    # idempotent / no-op when nothing exceeds the threshold
    assert compact_view(spark, view_dir, max_files_per_bucket=4) == []


@pytest.mark.parametrize("kill_step", ["staged", "committed"])
def test_compact_view_kill_mid_commit_then_rerun(spark, tmp_path, kill_step):
    """A kill around compaction's single manifest write plus a re-run must
    leave exactly the original rows (compaction changes layout, never
    data)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        compact_view,
        parquet_upsert_sink,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=19, n_transactions=24)
    tx_ids = sorted({e["transactionId"] for e in events})
    sink = parquet_upsert_sink(view_dir, n_buckets=2)
    for i, tx in enumerate(tx_ids):
        sink(
            transactions_view_from_log(
                spark.createDataFrame(
                    [e for e in events if e["transactionId"] == tx],
                    schema=EVENT_ENVELOPE_TYPE,
                )
            ),
            epoch_id=i,
        )
    before = _view_state(spark, view_dir)

    class Kill(RuntimeError):
        pass

    def failpoint(step):
        if step == kill_step:
            raise Kill(step)

    with pytest.raises(Kill):
        compact_view(spark, view_dir, max_files_per_bucket=1, failpoint=failpoint)
    compact_view(spark, view_dir, max_files_per_bucket=1)
    assert _view_state(spark, view_dir) == before
    _assert_no_orphans(spark, view_dir)


def test_manifest_retention_enables_time_travel(spark, tmp_path):
    """retain_commits keeps the last N manifests and their generations:
    read_view(version=seq) reproduces each retained snapshot exactly, and
    commits beyond the window expire (their versions unreadable, their
    exclusive generations GC'd)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        read_view,
        valid_commits,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=37, n_transactions=18)
    tx_ids = sorted({e["transactionId"] for e in events})
    sink = parquet_upsert_sink(view_dir, n_buckets=4, retain_commits=3)

    snapshots = {}
    for i, upto in enumerate((6, 12, 18)):
        keys = set(tx_ids[:upto])
        batch = transactions_view_from_log(
            spark.createDataFrame(
                [e for e in events if e["transactionId"] in keys],
                schema=EVENT_ENVELOPE_TYPE,
            )
        )
        sink(batch, epoch_id=i)
        seq, _ = valid_commits(spark, view_dir)[0]
        snapshots[seq] = upto

    assert len(valid_commits(spark, view_dir)) == 3
    for seq, upto in snapshots.items():
        assert read_view(spark, view_dir, version=seq).count() == upto

    # a fourth commit expires the oldest retained one
    oldest = min(snapshots)
    sink(
        transactions_view_from_log(
            spark.createDataFrame(
                [e for e in events if e["transactionId"] == tx_ids[0]],
                schema=EVENT_ENVELOPE_TYPE,
            )
        ),
        epoch_id=3,
    )
    kept = {s for s, _ in valid_commits(spark, view_dir)}
    assert len(kept) == 3 and oldest not in kept
    with pytest.raises(FileNotFoundError):
        read_view(spark, view_dir, version=oldest)
    # current view unaffected by history expiry
    assert read_view(spark, view_dir).count() == 18


def test_upsert_sink_soak_many_batches_with_crashes_and_compaction(
    spark, tmp_path
):
    """Soak the sink: 50 micro-batches of per-key view versions interleaved
    with compaction and two injected crashes (one before the manifest
    write, one after), each followed by the checkpoint-replay the engine
    would perform. The final maintained view must equal the batch fold of
    the whole log — the long-haul twin of the single-batch kill tests,
    hardening the commit + GC + recovery interplay.

    Per-batch updates are the reference replay of each key's events seen so
    far — exactly the rows the stateful fold emits for that micro-batch —
    so the soak exercises the sink against the true update stream without
    50 Spark fold jobs."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        compact_view,
        parquet_upsert_sink,
    )

    view_dir = str(tmp_path / "view")
    events = sorted(
        generate_event_log(seed=31, n_transactions=60), key=lambda e: e["seq"]
    )
    view_schema = transactions_view_from_log(
        spark.createDataFrame(events[:4], schema=EVENT_ENVELOPE_TYPE)
    ).schema

    n_batches = 50
    chunk = (len(events) + n_batches - 1) // n_batches
    sink = parquet_upsert_sink(view_dir, n_buckets=4)

    class Kill(RuntimeError):
        pass

    def killer(step_to_kill):
        def failpoint(step):
            if step == step_to_kill:
                raise Kill(step)

        return failpoint

    crash_at = {15: "staged", 35: "committed"}
    seen = 0
    for i in range(n_batches):
        batch_events = events[i * chunk : (i + 1) * chunk]
        if not batch_events:
            continue
        seen += len(batch_events)
        touched = {e["transactionId"] for e in batch_events}
        state = replay_reference(events[:seen])
        rows = [state[k] for k in sorted(touched) if k in state]
        if not rows:
            continue
        batch_df = spark.createDataFrame(rows, view_schema)
        if i in crash_at:
            with pytest.raises(Kill):
                parquet_upsert_sink(
                    view_dir, n_buckets=4, failpoint=killer(crash_at[i])
                )(batch_df, epoch_id=i)
        sink(batch_df, epoch_id=i)  # normal run / checkpoint replay
        if i % 7 == 6:
            compact_view(spark, view_dir, max_files_per_bucket=3)

    final = _view_state(spark, view_dir)
    assert_views_equal(final, replay_reference(events))
    _assert_no_orphans(spark, view_dir)


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Stream-stream interval-join state must recover from the checkpoint:
    purchases arriving in a SECOND run (same checkpoint, new sink) must
    match clicks buffered by the FIRST run — the reference's
    resume-without-loss guarantee (S2/ST2) applied to join state, and the
    property the w_stream_join_click_purchase gate exercises within one
    run. Synthetic rows pin the expected matches exactly."""
    from pyspark.sql import Row

    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purch")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(clicks_dir)
    os.makedirs(purch_dir)

    def write_file(rows, schema, dest):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(dest)

    def ts(minute):
        import datetime

        return datetime.datetime(2024, 1, 1, 10, minute)

    c_schema = "user_id bigint, ts timestamp"
    p_schema = "user_id bigint, ts timestamp, value double"
    # run 1: two clicks, one immediate match (u1), one still unmatched (u2)
    write_file([Row(user_id=1, ts=ts(0)), Row(user_id=2, ts=ts(5))],
               c_schema, clicks_dir)
    write_file([Row(user_id=1, ts=ts(10), value=5.0)], p_schema, purch_dir)

    def run_once():
        c = (
            spark.readStream.schema(c_schema).parquet(clicks_dir)
            .withWatermark("ts", "365 days")
            .selectExpr("user_id AS c_user", "ts AS c_ts")
        )
        p = (
            spark.readStream.schema(p_schema).parquet(purch_dir)
            .withWatermark("ts", "365 days")
            .selectExpr("user_id AS p_user", "ts AS p_ts", "value AS p_value")
        )
        joined = c.join(
            p,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    out1 = run_once()
    assert {(r.c_user, r.p_value) for r in out1} == {(1, 5.0)}

    # run 2: purchases for u2 (click held ONLY in recovered join state) and
    # a second u1 purchase still inside u1's click window
    write_file(
        [Row(user_id=2, ts=ts(20), value=7.0),
         Row(user_id=1, ts=ts(25), value=9.0)],
        p_schema, purch_dir,
    )
    out2 = run_once()
    # parquet sink output is cumulative across runs
    assert {(r.c_user, r.p_value) for r in out2} == {
        (1, 5.0), (2, 7.0), (1, 9.0)
    }


def test_upsert_sink_generic_key_column(spark, tmp_path):
    """The sink is a generic keyed-upsert component: maintain a documents
    table keyed by doc_id, update one doc, compact — merge semantics and
    bucket pruning identical to the transactionId view."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        compact_view,
        parquet_upsert_sink,
        read_view,
    )

    view_dir = str(tmp_path / "docs_view")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    ).limit(40)
    sink = parquet_upsert_sink(view_dir, n_buckets=4, key_col="doc_id")
    sink(docs, epoch_id=0)
    assert read_view(spark, view_dir).count() == 40

    from pyspark.sql import functions as F

    one = docs.orderBy("doc_id").limit(1).withColumn("lang", F.lit("xx"))
    sink(one, epoch_id=1)
    merged = read_view(spark, view_dir)
    assert merged.count() == 40
    target = one.collect()[0]["doc_id"]
    assert merged.filter(F.col("doc_id") == target).collect()[0]["lang"] == "xx"
    compact_view(spark, view_dir, max_files_per_bucket=1)
    assert read_view(spark, view_dir).count() == 40


def test_commit_seq_collision_fails_loudly_not_corrupts(spark, tmp_path):
    """Optimistic concurrency for free: the commit is a create-NEW file, so
    two writers racing the same sequence cannot both win — the loser gets
    an exception (its batch retries and re-reads the new head), never a
    silent overwrite of the winner's manifest. This is the zombie-driver
    guard a real cluster needs (an old foreachBatch attempt racing the
    restarted query)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        _write_commit,
        current_commit,
        parquet_upsert_sink,
        read_view,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=61, n_transactions=8)
    sink = parquet_upsert_sink(view_dir, n_buckets=2)
    sink(
        transactions_view_from_log(
            spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
        ),
        epoch_id=0,
    )
    seq, payload = current_commit(spark, view_dir)

    # a zombie writes the NEXT sequence first; the live writer must fail
    # its own commit of that sequence, leaving the zombie's manifest intact
    zombie_payload = dict(payload)
    _write_commit(spark, view_dir, seq + 1, zombie_payload)
    with pytest.raises(Exception):
        _write_commit(spark, view_dir, seq + 1, {"version": 1, "buckets": {}})
    got_seq, got_payload = current_commit(spark, view_dir)
    assert got_seq == seq + 1 and got_payload == zombie_payload
    assert read_view(spark, view_dir).count() == len(
        {e["transactionId"] for e in events}
    )


def test_empty_micro_batch_is_a_no_op_commit(spark, tmp_path):
    """An empty micro-batch must not advance the commit sequence or touch
    the data layout (idle streams would otherwise churn a manifest per
    trigger)."""
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        valid_commits,
    )

    view_dir = str(tmp_path / "view")
    events = generate_event_log(seed=67, n_transactions=6)
    batch = transactions_view_from_log(
        spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    )
    sink = parquet_upsert_sink(view_dir, n_buckets=2)
    sink(batch, epoch_id=0)
    before = valid_commits(spark, view_dir)
    sink(batch.limit(0), epoch_id=1)
    assert valid_commits(spark, view_dir) == before
    assert _view_state(spark, view_dir).keys() == {
        e["transactionId"] for e in events
    }


def test_manifest_gc_with_concurrent_readers(spark, tmp_path):
    """GC under live readers: with retain_commits=3 a reader that resolved
    a manifest has a ≥2-commit grace window before its generation dirs can
    be deleted. Two reader threads hammer the view while the writer
    commits 25 batches with per-commit retention GC — one resolves HEAD
    then reads its dirs after a delay, one time-travels to the
    SECOND-newest retained commit (grace window of one full commit; the
    oldest retained commit has no grace by construction — it is eligible
    for GC at the very next publish) — and every read must (a) never
    observe a missing generation dir and (b) return exactly the row count
    the writer recorded for that sequence (snapshot isolation, not just
    liveness)."""
    import threading
    import time

    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        current_commit,
        parquet_upsert_sink,
        valid_commits,
    )

    view_dir = str(tmp_path / "view")
    sink = parquet_upsert_sink(
        view_dir, n_buckets=4, retain_commits=3, key_col="k"
    )

    counts_by_seq: dict[int, int] = {}
    lock = threading.Lock()
    done = threading.Event()
    errors: list[str] = []
    reads = {"head": 0, "travel": 0}

    def head_reader():
        while not done.is_set():
            try:
                seq, payload = current_commit(spark, view_dir)
                if seq is None:
                    time.sleep(0.02)
                    continue
                dirs = [f"{view_dir}/{rel}" for rel in payload["buckets"].values()]
                time.sleep(0.05)  # linger inside the grace window
                n = spark.read.parquet(*dirs).count()
                with lock:
                    expected = counts_by_seq.get(seq)
                if expected is not None and n != expected:
                    errors.append(f"head seq {seq}: {n} rows != {expected}")
                reads["head"] += 1
            except Exception as exc:  # a vanished dir surfaces here
                errors.append(f"head reader: {exc!r}")
                return

    def travel_reader():
        while not done.is_set():
            try:
                retained = valid_commits(spark, view_dir)[:3]
                if len(retained) < 3:
                    time.sleep(0.02)
                    continue
                seq, payload = retained[1]  # second-newest retained commit
                dirs = [f"{view_dir}/{rel}" for rel in payload["buckets"].values()]
                time.sleep(0.05)
                n = spark.read.parquet(*dirs).count()
                with lock:
                    expected = counts_by_seq.get(seq)
                if expected is not None and n != expected:
                    errors.append(f"travel seq {seq}: {n} rows != {expected}")
                reads["travel"] += 1
            except Exception as exc:
                errors.append(f"travel reader: {exc!r}")
                return

    threads = [
        threading.Thread(target=head_reader, daemon=True),
        threading.Thread(target=travel_reader, daemon=True),
    ]
    for t in threads:
        t.start()
    try:
        keys = 0
        for i in range(25):
            batch = spark.createDataFrame(
                [(k, i) for k in range(max(0, keys - 2), keys + 4)], "k bigint, v bigint"
            )
            keys += 4
            sink(batch, epoch_id=i)
            seq, _ = current_commit(spark, view_dir)
            # batch i upserts keys [4i-2, 4i+4) → distinct keys = 4(i+1)
            with lock:
                counts_by_seq[seq] = keys
            if errors:
                break
    finally:
        done.set()
        for t in threads:
            t.join(timeout=30)
    assert not errors, errors[:5]
    assert reads["head"] >= 5 and reads["travel"] >= 5, reads


def test_bootstrap_initial_state_guards_stale_stream_events(spark, tmp_path):
    """A guarded event arriving AFTER the bootstrap handoff with an event
    time OLDER than the bootstrapped lastProcessedEventAt must not apply —
    the seeded state must carry the guard across the batch→stream boundary
    (an unseeded stream would see empty state and wrongly apply it). The
    final view must equal the reference replay of the WHOLE log."""
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
        fold_transactions_view,
        prepare_events,
    )
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        read_event_stream,
    )
    from pagopa_ecommerce_cdc_service_spark.streaming.state_fold import (
        incremental_view,
        seed_stream,
    )

    events = sorted(
        generate_event_log(seed=77, n_transactions=24), key=lambda e: e["seq"]
    )
    cut = len(events) // 2
    batch_events, stream_events = events[:cut], events[cut:]
    # the generator's shuffled timestamps guarantee cross-boundary
    # out-of-order pairs; assert the scenario is actually present
    batch_max = {}
    for e in batch_events:
        batch_max[e["transactionId"]] = max(
            batch_max.get(e["transactionId"], ""), e["creationDate"]
        )
    assert any(
        e["transactionId"] in batch_max
        and e["creationDate"] < batch_max[e["transactionId"]]
        for e in stream_events
    ), "no stale cross-boundary event in this log; change the seed"

    bootstrap = fold_transactions_view(
        prepare_events(
            spark.createDataFrame(batch_events, schema=EVENT_ENVELOPE_TYPE)
        )
    )
    seed_dir = str(tmp_path / "seed")
    bootstrap.write.parquet(seed_dir)
    log_dir = str(tmp_path / "log")
    _write_chunks(stream_events, log_dir, n_chunks=2)

    stream = prepare_events(
        read_event_stream(spark, log_dir, max_files_per_trigger=1)
    ).unionByName(seed_stream(spark, seed_dir), allowMissingColumns=True)
    q = (
        incremental_view(stream)
        .writeStream.format("memory")
        .queryName("bootstrap_guard")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # the memory sink appends one row per key per micro-batch: keep the
    # last. Every seeded key has a seed row, so the stream emits every key.
    streamed = {}
    for r in spark.table("bootstrap_guard").collect():
        streamed[r["transactionId"]] = r.asDict(recursive=True)
    assert_views_equal(streamed, replay_reference(events))


def test_seed_only_stream_emits_the_batch_view(spark, tmp_path):
    """Every column of a batch-folded view survives the seed path (parquet
    → file stream → JSON → the fold's starting view → output row): a
    handoff whose stream half is empty emits exactly the batch view."""
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
        fold_transactions_view,
        prepare_events,
    )
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        read_event_stream,
    )
    from pagopa_ecommerce_cdc_service_spark.streaming.state_fold import (
        incremental_view,
        seed_stream,
    )

    events = generate_event_log(seed=91, n_transactions=16)
    seed_dir = str(tmp_path / "seed")
    fold_transactions_view(
        prepare_events(spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE))
    ).write.parquet(seed_dir)
    log_dir = tmp_path / "log"
    log_dir.mkdir()

    stream = prepare_events(read_event_stream(spark, str(log_dir))).unionByName(
        seed_stream(spark, seed_dir), allowMissingColumns=True
    )
    q = (
        incremental_view(stream)
        .writeStream.format("memory")
        .queryName("seed_only")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    rows = spark.table("seed_only").collect()
    streamed = {r["transactionId"]: r.asDict(recursive=True) for r in rows}
    assert len(streamed) == len(rows)  # one micro-batch: one row per key
    assert all(r["_poisoned"] is None for r in rows)
    assert_views_equal(streamed, replay_reference(events))


def test_bootstrap_handoff_matches_oracle_from_foreign_cwd(query_from_foreign_cwd):
    """The Python workers of the stateful fold must import the package from
    any working directory."""
    query_from_foreign_cwd("cdc_bootstrap_handoff")
