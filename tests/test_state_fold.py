"""The stream's fold state, as the upsert sink keeps it in the table rows:
the guard (``lastProcessedEventAt``), the seen-id list (ST3 dedup: ``_seen``,
evicted by ARRIVAL recency, not lexicographic id order) and, for the
lineage and history folds, the stored map or interval list. Each test folds
prepared events onto a one-bucket table with ``parquet_upsert_sink``, so
every stored row of a merge's batch enters it as a seed."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
    FOLD_STEPS,
    fold_onto_stored,
    prepare_events,
)
from pagopa_ecommerce_cdc_service_spark.operators.python_fold import view_as_row
from pagopa_ecommerce_cdc_service_spark.schemas import (
    EVENT_ENVELOPE_TYPE,
    TRANSACTION_VIEW_CLASS,
    TRANSACTIONS_VIEW_TYPE,
)
from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
    VIEW_BUCKET_COL,
    _live_rows,
    _publish,
    _write_generation,
    current_commit,
    parquet_upsert_sink,
    read_view,
)

# identity-less events are part of the fixtures: no field is non-nullable
_ENVELOPE = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in EVENT_ENVELOPE_TYPE.fields]
)
_DEFAULT = object()


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def _event(i, code, *, tx="tx-1", eid=_DEFAULT, ts=None, seq=None, **data):
    return {
        "id": f"ev-{i}" if eid is _DEFAULT else eid,
        "transactionId": tx,
        "eventCode": code,
        "creationDate": _iso(1_000 + i if ts is None else ts),
        "seq": i if seq is None else seq,
        "operationType": "insert",
        "data": data or None,
    }


def _activated(i: int, *, email=None, **kw):
    return _event(
        i, "TRANSACTION_ACTIVATED_EVENT", email=f"e{i}" if email is None else email, **kw
    )


def _prepared(spark, events):
    return prepare_events(spark.createDataFrame(events, _ENVELOPE))


def _fold(spark, view_dir, events, epoch, **sink_kw):
    parquet_upsert_sink(view_dir, n_buckets=1, **sink_kw)(
        _prepared(spark, events), epoch_id=epoch
    )


def _stored(spark, view_dir) -> dict:
    """The live rows, hidden ``_seen`` included, by transactionId."""
    _, payload = current_commit(spark, view_dir)
    rows = _live_rows(spark, view_dir, payload["buckets"], payload.get("gens", {}))
    return {r["transactionId"]: r.asDict(recursive=True) for r in rows.collect()}


def _store_view(spark, view_dir, *views):
    """Commit ``views`` as a one-bucket view written before the rows kept
    their seen ids: no ``_seen`` and no ``_poisoned`` column in the files."""
    rows = [view_as_row({"_class": TRANSACTION_VIEW_CLASS, **v}) for v in views]
    df = spark.createDataFrame(rows, TRANSACTIONS_VIEW_TYPE)
    gen = _write_generation(df.withColumn(VIEW_BUCKET_COL, F.lit(0)), view_dir, "old")
    _publish(spark, view_dir, None, None, gen, [0], None, 1)


def test_seen_cap_keeps_arrival_recency_not_lexicographic_order(spark, tmp_path):
    from pagopa_ecommerce_cdc_service_spark.config import DEFAULT_CONFIG

    view_dir = str(tmp_path / "view")
    cap = DEFAULT_CONFIG.seen_ids_cap
    n = cap + 904  # overflow the cap
    # unpadded ids: lexicographic order ("ev-999" > "ev-4000") disagrees with
    # arrival order, so a sort-based cap would retain the wrong window
    _fold(spark, view_dir, [_activated(i) for i in range(n)], 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["email"] == f"e{n - 1}"
    # exactly the most recent arrivals, oldest first
    assert row["_seen"] == [f"ev-{i}" for i in range(n - cap, n)]

    # a late duplicate of a RECENT id must still be dropped...
    recent_dup = _activated(n - 1, email="dup-should-be-dropped", seq=n + 1, ts=9_999_999)
    _fold(spark, view_dir, [recent_dup], 1)
    assert _stored(spark, view_dir)["tx-1"]["email"] == f"e{n - 1}"

    # ...while a duplicate of an EVICTED (old) id re-applies — the documented
    # cap trade-off mirroring the reference's lock TTL expiry
    old_dup = _activated(0, email="reapplied", seq=n + 2, ts=10_000_000)
    _fold(spark, view_dir, [old_dup], 2)
    assert _stored(spark, view_dir)["tx-1"]["email"] == "reapplied"


def test_seen_ids_cap_configurable(spark, tmp_path):
    """CdcConfig.seen_ids_cap reaches the sink that start_view_maintenance
    wires up (the lock-TTL analog)."""
    import json
    from dataclasses import replace

    from pagopa_ecommerce_cdc_service_spark.config import DEFAULT_CONFIG
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import (
        start_view_maintenance,
    )

    src = tmp_path / "log"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps(_activated(i)) for i in range(5)))
    view_dir = str(tmp_path / "view")
    q = start_view_maintenance(
        spark, str(src), view_dir, str(tmp_path / "ckpt"),
        config=replace(DEFAULT_CONFIG, seen_ids_cap=2), n_buckets=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _stored(spark, view_dir)["tx-1"]["_seen"] == ["ev-3", "ev-4"]


def test_null_event_id_skipped_not_fatal(spark, tmp_path):
    view_dir = str(tmp_path / "view")
    events = [
        _activated(1),
        _activated(2, eid=None, email="ghost"),  # identity-less: skipped
        _activated(3),
    ]
    _fold(spark, view_dir, events, 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["email"] == "e3"
    assert row["_seen"] == ["ev-1", "ev-3"]


def test_packed_state_keys_stable_across_folds(spark, tmp_path):
    """The view, lineage and history folds keep the same state beside their
    output columns: the guard ``lastProcessedEventAt`` and the hidden
    ``_seen``, which readers never see. The seen cap applies to each fold
    alike, and a capped-in duplicate is dropped by each."""
    outputs = {
        "view": {*TRANSACTIONS_VIEW_TYPE.fieldNames(), "_poisoned"},
        "lineage": {"transactionId", "lastProcessedEventAt", "lineage"},
        "history": {"transactionId", "lastProcessedEventAt", "history"},
    }
    for step, cols in outputs.items():
        view_dir = str(tmp_path / step)
        _fold(spark, view_dir, [_activated(1)], 0, fold=step, seen_ids_cap=1)
        batch2 = [_activated(1, email="dup", seq=5), _activated(2)]
        _fold(spark, view_dir, batch2, 1, fold=step, seen_ids_cap=1)
        row = _stored(spark, view_dir)["tx-1"]
        assert set(row) == cols | {"_seen", "_bucket", "_gen"}, step
        assert row["_seen"] == ["ev-2"], step
        assert row["lastProcessedEventAt"] == 1_002, step
        assert set(read_view(spark, view_dir).columns) == cols, step
    assert _stored(spark, str(tmp_path / "view"))["tx-1"]["email"] == "e2"


def test_lineage_and_history_restore_packed_state(spark, tmp_path):
    """A lineage or history table resumes from its stored rows: the stored
    writer map and interval list are extended, never restarted."""
    first = _event(0, "TRANSACTION_EXPIRED_EVENT", ts=5_000)
    lin_dir, hist_dir = str(tmp_path / "lin"), str(tmp_path / "hist")
    for d, step in ((lin_dir, "lineage"), (hist_dir, "history")):
        _fold(spark, d, [first], 0, fold=step)
        _fold(spark, d, [_activated(1, ts=6_000)], 1, fold=step)

    row = _stored(spark, lin_dir)["tx-1"]
    fields = {e["field"]: e["event_id"] for e in row["lineage"]}
    assert fields["status"] == "ev-1" and fields["email"] == "ev-1"
    assert fields["lastProcessedEventAt"] == "ev-1"
    assert row["_seen"] == ["ev-0", "ev-1"]

    row = _stored(spark, hist_dir)["tx-1"]
    assert [(h["version"], h["valid_from_ms"]) for h in row["history"]] == [
        (1, 5_000), (2, 6_000)
    ]
    assert row["history"][1]["status"] == "ACTIVATED"
    assert row["history"][0]["status"] != "ACTIVATED"


def test_seed_row_starts_view_and_carries_the_guard(spark, tmp_path):
    """A stored row seeds its key: the stored lastProcessedEventAt blocks a
    stale guarded write (status), while the unguarded write (email) still
    applies — exactly as if the stored row's events had been folded in the
    same batch. The seen-id list starts from the events folded onto it."""
    view_dir = str(tmp_path / "view")
    _store_view(
        spark, view_dir,
        {"transactionId": "tx-1", "status": "CLOSED", "email": "batch",
         "lastProcessedEventAt": 5_000},
    )
    _fold(spark, view_dir, [_activated(1, ts=1_001)], 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["status"] == "CLOSED"
    assert row["lastProcessedEventAt"] == 5_000
    assert row["email"] == "e1"
    assert row["_seen"] == ["ev-1"]

    # without the stored row the same event starts a fresh view and applies
    fresh = str(tmp_path / "fresh")
    _fold(spark, fresh, [_activated(1, ts=1_001)], 0)
    assert _stored(spark, fresh)["tx-1"]["status"] == "ACTIVATED"


def test_seed_row_ignored_when_key_has_state(spark, tmp_path):
    """Folding a bootstrap batch again after the stream moved on must not
    reset the view: every one of its ids is in the stored ``_seen``."""
    view_dir = str(tmp_path / "view")
    bootstrap = [_activated(1, ts=9_000)]
    _fold(spark, view_dir, bootstrap, "bootstrap")
    _fold(spark, view_dir, [_activated(2, ts=9_500)], 0)
    before = _stored(spark, view_dir)["tx-1"]
    _fold(spark, view_dir, bootstrap, "bootstrap")
    after = _stored(spark, view_dir)["tx-1"]
    assert after["email"] == "e2"
    assert after["lastProcessedEventAt"] == 9_500
    assert {k: v for k, v in after.items() if k != "_gen"} == {
        k: v for k, v in before.items() if k != "_gen"
    }


def test_seed_only_batch_emits_the_seeded_view(spark, tmp_path):
    """The sink folds onto a view whose files lack ``_seen`` (and
    ``_poisoned``): a stored key that no event touches passes through as
    it was, with an empty seen-id list, beside a key the batch folds."""
    view_dir = str(tmp_path / "view")
    stored = {
        "transactionId": "tx-1", "status": "CLOSED", "email": "batch",
        "lastProcessedEventAt": 5_000,
    }
    _store_view(spark, view_dir, stored)
    _fold(spark, view_dir, [_activated(1, tx="tx-2")], 0)
    rows = _stored(spark, view_dir)
    row = rows["tx-1"]
    assert {f: row[f] for f in TRANSACTIONS_VIEW_TYPE.fieldNames()} == view_as_row(
        {"_class": TRANSACTION_VIEW_CLASS, **stored}
    )
    assert row["_seen"] == []
    assert row["_poisoned"] is None
    assert rows["tx-2"]["email"] == "e1" and rows["tx-2"]["_seen"] == ["ev-1"]


def test_seed_rows_do_not_widen_event_longs(spark, tmp_path):
    """Onto a stored row, events still apply in seq order, whatever their
    order in the batch, and the stored guard stays a long."""
    view_dir = str(tmp_path / "view")
    _store_view(
        spark, view_dir, {"transactionId": "tx-1", "lastProcessedEventAt": 5_000}
    )
    _fold(spark, view_dir, [_activated(2, ts=7_002), _activated(1, ts=7_001)], 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["email"] == "e2"  # seq 2 applied last
    assert row["lastProcessedEventAt"] == 7_002
    assert isinstance(row["lastProcessedEventAt"], int)
    assert row["_seen"] == ["ev-1", "ev-2"]


def test_seed_view_without_guard_starts_unguarded(spark, tmp_path):
    """A stored row with no lastProcessedEventAt (no guarded event ever
    applied) leaves the guard open, like a fresh view."""
    view_dir = str(tmp_path / "view")
    _store_view(spark, view_dir, {"transactionId": "tx-1", "status": "CLOSED"})
    _fold(spark, view_dir, [_activated(1, ts=1_001)], 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["status"] == "ACTIVATED"
    assert row["lastProcessedEventAt"] == 1_001


def test_remerging_a_committed_epoch_changes_nothing(spark, tmp_path):
    """A kill right after the commit point, then the engine's replay of the
    same micro-batch, leaves the view unchanged. The batch's unguarded
    write (the receipt outcome) precedes a guarded write of the same field
    (CLOSED's NOT_RECEIVED) that applied the first time but is stale on
    replay: the guard alone would let the unguarded write win on replay;
    the stored seen ids drop the whole replay."""
    view_dir = str(tmp_path / "view")
    _fold(spark, view_dir, [_activated(0, ts=1_000)], 0)
    batch = [
        _event(1, "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT", ts=2_000,
               responseOutcome="OK"),
        _event(2, "TRANSACTION_CLOSED_EVENT", ts=3_000),
    ]
    _fold(spark, view_dir, batch, 1)
    committed = _stored(spark, view_dir)["tx-1"]
    assert committed["sendPaymentResultOutcome"] == "NOT_RECEIVED"

    class Kill(RuntimeError):
        pass

    def failpoint(step):
        if step == "committed":
            raise Kill(step)

    with pytest.raises(Kill):
        _fold(spark, view_dir, batch, 2, failpoint=failpoint)
    _fold(spark, view_dir, batch, 2)  # the checkpoint replay
    replayed = _stored(spark, view_dir)["tx-1"]
    assert replayed["sendPaymentResultOutcome"] == "NOT_RECEIVED"
    assert {k: v for k, v in replayed.items() if k != "_gen"} == {
        k: v for k, v in committed.items() if k != "_gen"
    }


def test_redelivery_straddling_the_bootstrap_handoff_is_dropped(spark, tmp_path):
    """An event folded by the bootstrap commit and redelivered to the
    stream half is dropped: the bootstrap rows carry its id. Without that,
    the redelivered unguarded write would overwrite the later one."""
    view_dir = str(tmp_path / "view")
    receipt = _event(1, "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT", responseOutcome="OK")
    history = [
        _activated(0),
        receipt,
        _event(2, "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT", responseOutcome="KO"),
    ]
    _fold(spark, view_dir, history, "bootstrap")
    _fold(spark, view_dir, [dict(receipt, seq=3), _event(4, "TRANSACTION_REFUND_RETRIED_EVENT")], 0)
    row = _stored(spark, view_dir)["tx-1"]
    assert row["sendPaymentResultOutcome"] == "KO"
    assert row["_seen"] == ["ev-0", "ev-1", "ev-2", "ev-4"]


def test_fold_output_has_the_stored_type(spark):
    """Each fold step writes exactly the columns and types it reads back as
    the next micro-batch's stored rows."""
    def columns(schema):  # names and types, nullability aside
        return [(f.name, f.dataType.simpleString()) for f in schema]

    events = _prepared(spark, [_activated(1)])
    for step in FOLD_STEPS:
        stored_type, fold = fold_onto_stored(step, 4)
        assert columns(fold(events, None).schema) == columns(stored_type), step
        stored = spark.createDataFrame([], stored_type)
        assert columns(fold(events, stored).schema) == columns(stored_type), step
