"""Per-field column lineage of the CDC fold (operators/cdc_fold.py:
fold_field_lineage) — the queryable form of the reference's per-field write
map (TransactionViewUpsertService.kt:308-659).

Laws pinned here (the sf0.01 oracle-parity gate certifies values;
these pin the semantics on hand-written guard/unset scenarios):

1. the winning writer of every field is a DECLARED writer of that field
   (event_mapping.writers_of);
2. ``lastProcessedEventAt``'s lineage event-time equals the folded view's
   ``lastProcessedEventAt`` value, and its writer is the last applied event;
3. a guard-rejected (stale) event never wins a GUARDED field, but still
   wins the UNGUARDED fields it writes (reference dataUpdate semantics);
4. fields no event ever wrote have no lineage row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pagopa_ecommerce_cdc_service_spark.event_mapping import writers_of
from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
    fold_field_lineage,
    fold_transactions_view,
    prepare_events,
)
from pagopa_ecommerce_cdc_service_spark.schemas import EVENT_ENVELOPE_TYPE

from test_cdc_fold import T0, T1, T2, T3, _ev


def _lineage(spark, events):
    df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    rows = fold_field_lineage(prepare_events(df)).collect()
    return {(r["transactionId"], r["field"]): r.asDict() for r in rows}


def _view(spark, events):
    df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    rows = fold_transactions_view(prepare_events(df)).collect()
    return {r["transactionId"]: r.asDict(recursive=True) for r in rows}


def _scenario():
    # tx "t": activation, auth request, then a STALE activation (older
    # event-time, arrives later) — its guarded status write must lose, but
    # its unguarded field writes (email et al.) must WIN (last-arriving
    # effective write).
    return [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T1,
            {"email": "first@x.it", "clientId": "IO", "userId": "u1"}),
        _ev(1, "t", "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT", T2,
            {"paymentGateway": "NPG", "paymentTypeCode": "CP", "pspId": "p1",
             "fee": 150, "authorizationRequestId": "ar1"}),
        _ev(2, "t", "TRANSACTION_ACTIVATED_EVENT", T0,
            {"email": "stale@x.it", "clientId": "CHECKOUT", "userId": None}),
    ]


def test_lineage_writers_are_declared(spark):
    lin = _lineage(spark, _scenario())
    for (_, field), row in lin.items():
        if field in ("status", "lastProcessedEventAt"):
            continue
        codes = {code for code, _ in writers_of(field)}
        assert row["event_code"] in codes, (field, row)


def test_lineage_lpea_matches_view(spark):
    events = _scenario()
    lin = _lineage(spark, events)
    view = _view(spark, events)
    row = lin[("t", "lastProcessedEventAt")]
    assert row["event_ts_millis"] == view["t"]["lastProcessedEventAt"]
    # last applied event is seq 1 (the stale activation was rejected)
    assert row["event_id"] == "e1"
    assert row["guarded"] is True


def test_stale_event_loses_guarded_wins_unguarded(spark):
    events = _scenario()
    lin = _lineage(spark, events)
    view = _view(spark, events)
    # guarded status: winner is the AUTH_REQUESTED event, not the stale
    # activation
    assert lin[("t", "status")]["event_id"] == "e1"
    assert view["t"]["status"] == "AUTHORIZATION_REQUESTED"
    # unguarded email: the stale activation's write is effective and wins
    assert lin[("t", "email")]["event_id"] == "e2"
    assert view["t"]["email"] == "stale@x.it"
    assert lin[("t", "email")]["guarded"] is False
    # userId is SET_IF_NONNULL: the stale activation's null write is a
    # no-op, so the FIRST activation remains the winner
    assert lin[("t", "userId")]["event_id"] == "e0"
    assert view["t"]["userId"] == "u1"


def test_unwritten_fields_have_no_row(spark):
    lin = _lineage(spark, _scenario())
    fields = {f for (_, f) in lin}
    # no closure/receipt events in the scenario
    assert "closureErrorData" not in fields
    assert "sendPaymentResultOutcome" not in fields
    assert "authorizationCode" not in fields


def test_lineage_single_exchange(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["cdc_field_lineage"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # same contract as the fold: dedup window, guard window and the final
    # groupBy all reuse ONE hash exchange on transactionId; the long
    # format is a post-aggregation explode, not another shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_lineage_guard_flag_semantics(spark):
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T0, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_CLOSED_EVENT", T2,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
        _ev(2, "t", "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT", T1,
            {"responseOutcome": "KO"}),
    ]
    lin = _lineage(spark, events)
    # sendPaymentResultOutcome: the receipt event arrives LAST-effective?
    # No — arrival order is seq: receipt (seq 2) arrives after CLOSED
    # (seq 1); receipt's write is UNGUARDED so it wins even though its
    # event-time T1 < T2.
    row = lin[("t", "sendPaymentResultOutcome")]
    assert row["event_id"] == "e2"
    assert row["guarded"] is False
    # closureErrorData: CLOSED's unguarded unset is the only writer
    row = lin[("t", "closureErrorData")]
    assert row["event_id"] == "e1"
    assert row["guarded"] is False


def test_stream_lineage_restart_matches_batch(spark, tmp_path):
    """Streaming per-field lineage twin (the upsert sink's "lineage" fold):
    fold half the log, STOP, let the rest arrive, restart on the same
    checkpoint — the lineage map resumed from the table must equal the
    batch law (fold_field_lineage) over the whole log, field for field.
    """
    import json as _json
    import os
    import time

    from pagopa_ecommerce_cdc_service_spark.sources import generate_event_log
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        read_event_stream,
        read_view,
        stream_transactions_view,
    )

    events = generate_event_log(seed=19, n_transactions=30, p_duplicate=0.1)
    log_dir = str(tmp_path / "log")
    lin_dir = str(tmp_path / "lin")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log_dir)

    def write_chunk(part, name, age):
        path = os.path.join(log_dir, name)
        with open(path, "w") as f:
            for e in part:
                f.write(_json.dumps(e) + "\n")
        mtime = time.time() - age
        os.utime(path, (mtime, mtime))

    def run_phase():
        out = stream_transactions_view(read_event_stream(spark, log_dir))
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(parquet_upsert_sink(lin_dir, n_buckets=4, fold="lineage"))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half = len(events) // 2
    write_chunk(events[:half], "a.json", age=20)
    run_phase()
    write_chunk(events[half:], "b.json", age=10)  # arrives while down
    run_phase()

    got = {}
    for r in (
        read_view(spark, lin_dir)
        .select("transactionId", F.explode("lineage").alias("e"))
        .select("transactionId", "e.*")
        .collect()
    ):
        got[(r["transactionId"], r["field"])] = (
            r["event_id"], r["event_code"], r["event_ts_millis"], r["guarded"]
        )

    df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    want = {
        (r["transactionId"], r["field"]): (
            r["event_id"], r["event_code"], r["event_ts_millis"], r["guarded"]
        )
        for r in fold_field_lineage(prepare_events(df)).collect()
    }
    assert got == want


def test_stream_status_history_restart_matches_batch(spark, tmp_path):
    """Streaming SCD2 twin (the upsert sink's "history" fold): fold half
    the log, STOP, let the rest arrive, restart on the same checkpoint —
    the interval lists resumed from the table must equal the batch law
    (operators/cdc_fold.status_history) over the whole log, row for row
    (version, status, valid_from, valid_to, is_current)."""
    import json as _json
    import os
    import time

    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import status_history
    from pagopa_ecommerce_cdc_service_spark.sources import generate_event_log
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        parquet_upsert_sink,
        read_event_stream,
        read_view,
        stream_transactions_view,
    )

    events = generate_event_log(seed=23, n_transactions=30, p_duplicate=0.1)
    log_dir = str(tmp_path / "log")
    hist_dir = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log_dir)

    def write_chunk(part, name, age):
        path = os.path.join(log_dir, name)
        with open(path, "w") as f:
            for e in part:
                f.write(_json.dumps(e) + "\n")
        mtime = time.time() - age
        os.utime(path, (mtime, mtime))

    def run_phase():
        out = stream_transactions_view(read_event_stream(spark, log_dir))
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(parquet_upsert_sink(hist_dir, n_buckets=4, fold="history"))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half = len(events) // 2
    write_chunk(events[:half], "a.json", age=20)
    run_phase()
    write_chunk(events[half:], "b.json", age=10)
    run_phase()

    got = set()
    for r in (
        read_view(spark, hist_dir)
        .select("transactionId", F.posexplode("history").alias("_i", "e"),
                F.size("history").alias("_n"))
        .collect()
    ):
        got.add((
            r["transactionId"], r["e"]["version"], r["e"]["status"],
            r["e"]["valid_from_ms"], r["_i"] + 1 == r["_n"],
        ))

    df = spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)
    want = {
        (r["transactionId"], r["version"], r["status"], r["valid_from_ms"],
         r["is_current"])
        for r in status_history(prepare_events(df)).collect()
    }
    assert got == want
