"""Unit tests for the streaming state fold's seen-set (ST3 dedup) semantics:
eviction is by ARRIVAL recency, not lexicographic id order, and identity-less
events are skipped rather than fatal. No SparkSession needed — the fold
function is driven directly with a fake GroupState, on frames shaped like
the ones ``_pack_events`` builds (one JSON string per event, one per key
out)."""

from __future__ import annotations

import json

import pandas as pd

from pagopa_ecommerce_cdc_service_spark.streaming.state_fold import (
    EVENT_COL,
    MAX_SEEN_IDS_PER_KEY,
    OUT_COL,
    SEED_COL,
    fold_state_func,
)


class FakeGroupState:
    def __init__(self):
        self._val = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, value):
        self._val = tuple(value)


_DEFAULT = object()


def _activated(i: int, *, eid=_DEFAULT, email=None, ts=None, seq=None):
    return {
        "id": f"ev-{i}" if eid is _DEFAULT else eid,
        "transactionId": "tx-1",
        "eventCode": "TRANSACTION_ACTIVATED_EVENT",
        "creationDate": "2025-01-01T00:00:00.000Z",
        "seq": i if seq is None else seq,
        "_ts_millis": (1_000 + i) if ts is None else ts,
        "data": {"email": f"e{i}" if email is None else email},
    }


def _frame(events, seeds=()):
    """Event dicts (and seed-row JSON strings) → the fold's input frame, as
    ``_pack_events`` builds it: ``_event`` is the event as JSON, null on seed
    rows; ``_seed`` is null on event rows."""
    rows = [("tx-1", json.dumps(e), None) for e in events]
    rows += [("tx-1", None, seed) for seed in seeds]
    return pd.DataFrame(rows, columns=["transactionId", EVENT_COL, SEED_COL])


def _row(out):
    """The fold's one output frame → its decoded ``_out`` row."""
    assert len(out) == 1 and len(out[0]) == 1
    assert out[0].iloc[0]["transactionId"] == "tx-1"
    return json.loads(out[0].iloc[0][OUT_COL])


def _run(state, events, seeds=()):
    return _row(list(fold_state_func(("tx-1",), [_frame(events, seeds)], state)))


def test_seen_cap_keeps_arrival_recency_not_lexicographic_order():
    n = MAX_SEEN_IDS_PER_KEY + 904  # overflow the cap
    state = FakeGroupState()
    # unpadded ids: lexicographic order ("ev-999" > "ev-4000") disagrees with
    # arrival order, so a sort-based cap would retain the wrong window
    row = _run(state, [_activated(i) for i in range(n)])
    assert row["email"] == f"e{n - 1}"

    seen = json.loads(state.get[0])["seen"]
    assert len(seen) == MAX_SEEN_IDS_PER_KEY
    # exactly the most recent arrivals, oldest first
    assert seen == [f"ev-{i}" for i in range(n - MAX_SEEN_IDS_PER_KEY, n)]

    # a late duplicate of a RECENT id must still be dropped...
    recent_dup = _activated(n - 1, email="dup-should-be-dropped", seq=n + 1, ts=9_999_999)
    row = _run(state, [recent_dup])
    assert row["email"] == f"e{n - 1}"

    # ...while a duplicate of an EVICTED (old) id re-applies — the documented
    # cap trade-off mirroring the reference's lock TTL expiry
    old_dup = _activated(0, email="reapplied", seq=n + 2, ts=10_000_000)
    row = _run(state, [old_dup])
    assert row["email"] == "reapplied"


def test_poison_pill_event_quarantined_view_survives():
    """ST4: an event that throws inside the fold is skipped (marked seen, not
    retried) and reported in the _poisoned output column; the view keeps
    folding the rest of the batch — the reference's non-retriable-error skip
    (EcommerceCDCEventDispatcherService.kt:38-66)."""
    state = FakeGroupState()
    poison = _activated(2)
    poison["_ts_millis"] = None
    poison["creationDate"] = "not-a-timestamp"  # parse_millis → ValueError

    out = _row(
        list(
            fold_state_func(
                ("tx-1",),
                [_frame([_activated(1), poison, _activated(3)])],
                state,
            )
        )
    )

    assert out["email"] == "e3"  # view built from the surviving events
    assert len(out["_poisoned"]) == 1
    assert out["_poisoned"][0]["id"] == "ev-2"
    assert "ValueError" in out["_poisoned"][0]["error"]

    # poisoned id is seen: a redelivery is dropped, not retried forever
    seen = json.loads(state.get[0])["seen"]
    assert seen == ["ev-1", "ev-2", "ev-3"]
    out2 = _run(state, [dict(poison, seq=10)])
    assert out2["_poisoned"] is None
    assert out2["email"] == "e3"


def test_poison_pill_leaves_view_unmutated():
    """A poisoned event must not half-write the view (apply runs on a scratch
    copy): the stored view state is byte-identical before and after it."""
    state = FakeGroupState()
    _run(state, [_activated(1)])
    before = json.loads(state.get[0])["view"]

    poison = _activated(2, ts=None)
    poison["_ts_millis"] = None
    poison["creationDate"] = "boom"  # parse_millis → ValueError

    out = _run(state, [poison])
    after = json.loads(state.get[0])["view"]
    assert out["_poisoned"] is not None and out["_poisoned"][0]["id"] == "ev-2"
    assert after == before  # guard state untouched by the failed event


def test_seen_ids_cap_configurable():
    """CdcConfig.seen_ids_cap flows into the fold (the lock-TTL analog)."""
    state = FakeGroupState()
    list(
        fold_state_func(
            ("tx-1",),
            [_frame([_activated(i) for i in range(5)])],
            state,
            seen_ids_cap=2,
        )
    )
    assert json.loads(state.get[0])["seen"] == ["ev-3", "ev-4"]


def test_null_event_id_skipped_not_fatal():
    state = FakeGroupState()
    events = [
        _activated(1),
        _activated(2, eid=None, email="ghost"),  # identity-less: skipped
        _activated(3),
    ]
    row = _run(state, events)
    assert row["email"] == "e3"
    seen = json.loads(state.get[0])["seen"]
    assert seen == ["ev-1", "ev-3"]


def test_packed_state_keys_stable_across_folds():
    """The view, lineage and history folds share one state codec. Its packed
    keys stay ``view``/``seen`` plus ``lin``/``hist``, so existing
    checkpoints restore, and the seen cap applies to each fold alike."""
    from pagopa_ecommerce_cdc_service_spark.streaming.state_fold import (
        history_state_func,
        lineage_state_func,
    )

    for func, extra in (
        (fold_state_func, set()),
        (lineage_state_func, {"lin"}),
        (history_state_func, {"hist"}),
    ):
        state = FakeGroupState()
        list(func(("tx-1",), [_frame([_activated(1)])], state, seen_ids_cap=1))
        assert set(json.loads(state.get[0])) == {"view", "seen"} | extra
        batch2 = [_activated(1, email="dup"), _activated(2)]
        list(func(("tx-1",), [_frame(batch2)], state, seen_ids_cap=1))
        packed = json.loads(state.get[0])
        assert set(packed) == {"view", "seen"} | extra
        assert packed["seen"] == ["ev-2"]
        assert packed["view"]["email"] == "e2"


def _seed(**fields):
    """A seed_stream row's ``_seed`` value: the batch-folded view row as
    JSON."""
    view = {"transactionId": "tx-1", "status": "CLOSED", "email": "batch"}
    view.update(fields)
    return json.dumps(view)


def test_seed_row_starts_view_and_carries_the_guard():
    """A key with no state starts from its seed row: the seeded
    lastProcessedEventAt blocks a stale guarded write (status), while the
    unguarded write (email) still applies — exactly as if the batch half
    had been folded in this state. Nulls in the seed are dropped and the
    seen-id list starts empty."""
    state = FakeGroupState()
    seed = _seed(lastProcessedEventAt=5_000, userId=None)
    row = _run(state, [_activated(1, ts=1_001)], [seed])
    assert row["status"] == "CLOSED"
    assert row["lastProcessedEventAt"] == 5_000
    assert row["email"] == "e1"
    packed = json.loads(state.get[0])
    assert "userId" not in packed["view"]
    assert packed["seen"] == ["ev-1"]

    # without the seed the same event starts a fresh view and applies
    fresh = FakeGroupState()
    assert _run(fresh, [_activated(1, ts=1_001)])["status"] == "ACTIVATED"


def test_seed_row_ignored_when_key_has_state():
    """A seed row that arrives after its key already has state must not
    reset the view (seeds only start keys)."""
    state = FakeGroupState()
    _run(state, [_activated(1, ts=9_000)])
    row = _run(state, [], [_seed(lastProcessedEventAt=5_000)])
    assert row["status"] == "ACTIVATED"
    assert row["email"] == "e1"
    assert row["lastProcessedEventAt"] == 9_000


def test_seed_only_batch_emits_the_seeded_view():
    """A micro-batch holding only the seed row emits the seeded view as is
    (absent fields → null), with an empty seen-id list in state."""
    state = FakeGroupState()
    row = _run(state, [], [_seed(lastProcessedEventAt=5_000)])
    assert row["status"] == "CLOSED"
    assert row["email"] == "batch"
    assert row["lastProcessedEventAt"] == 5_000
    assert row["clientId"] is None
    assert row["_poisoned"] is None
    assert json.loads(state.get[0])["seen"] == []


def test_seed_rows_do_not_widen_event_longs():
    """With seed rows mixed into the batch (their ``_event`` is null), events
    still apply in seq order, whatever their arrival order in the frame,
    and the stored guard and the emitted one stay integers."""
    state = FakeGroupState()
    events = [_activated(2, ts=7_002), _activated(1, ts=7_001)]
    row = _run(state, events, [_seed(lastProcessedEventAt=5_000)])
    assert row["email"] == "e2"  # seq 2 applied last
    assert row["lastProcessedEventAt"] == 7_002
    assert isinstance(row["lastProcessedEventAt"], int)
    lpea = json.loads(state.get[0])["view"]["lastProcessedEventAt"]
    assert lpea == 7_002 and isinstance(lpea, int)


def test_seed_view_without_guard_starts_unguarded():
    """A seed row with no lastProcessedEventAt (the batch half never applied
    a guarded event) leaves the guard open, like a fresh view."""
    state = FakeGroupState()
    seed = json.dumps({"status": "CLOSED"})
    row = _run(state, [_activated(1, ts=1_001)], [seed])
    assert row["status"] == "ACTIVATED"
    assert row["transactionId"] == "tx-1"
    assert row["lastProcessedEventAt"] == 1_001


def test_lineage_and_history_restore_packed_state():
    """A lineage/history checkpoint written before the folds shared one
    codec (same packed keys) restores and keeps folding: the stored map /
    interval list is extended, never restarted."""
    from pagopa_ecommerce_cdc_service_spark.streaming.state_fold import (
        history_state_func,
        lineage_state_func,
    )

    view = {"transactionId": "tx-1", "status": "CLOSED", "lastProcessedEventAt": 5_000}
    meta = {"event_id": "ev-0", "event_code": "X", "event_ts_millis": 5_000, "guarded": True}
    lin_state = FakeGroupState()
    lin_state.update(
        (json.dumps({"view": view, "seen": ["ev-0"], "lin": {"status": meta}}),)
    )
    out = _row(
        list(lineage_state_func(("tx-1",), [_frame([_activated(1, ts=6_000)])], lin_state))
    )
    fields = {r["field"]: r["event_id"] for r in out["lineage"]}
    assert fields["status"] == "ev-1" and fields["email"] == "ev-1"
    assert json.loads(lin_state.get[0])["seen"] == ["ev-0", "ev-1"]

    hist = [{"version": 1, "status": "CLOSED", "valid_from_ms": 5_000}]
    hist_state = FakeGroupState()
    hist_state.update((json.dumps({"view": view, "seen": ["ev-0"], "hist": hist}),))
    out = _row(
        list(history_state_func(("tx-1",), [_frame([_activated(1, ts=6_000)])], hist_state))
    )
    assert [h["status"] for h in out["history"]] == ["CLOSED", "ACTIVATED"]
    assert out["history"][1]["version"] == 2


def test_pandas_era_state_floats_restore_as_longs():
    """State written while the fold read pandas frames can hold integral
    floats for nested longs (pandas widened a long with a null sibling to
    float64). They restore as ints, so the output row parses into its long
    columns."""
    view = {
        "transactionId": "tx-1",
        "feeTotal": 266.0,
        "paymentNotices": [{"paymentToken": "t", "amount": 1569.0}],
        "lastProcessedEventAt": 5_000,
    }
    state = FakeGroupState()
    state.update((json.dumps({"view": view, "seen": ["ev-0"]}),))
    row = _run(state, [])
    assert row["feeTotal"] == 266 and isinstance(row["feeTotal"], int)
    (notice,) = row["paymentNotices"]
    assert notice["amount"] == 1569 and isinstance(notice["amount"], int)
    assert isinstance(json.loads(state.get[0])["view"]["feeTotal"], int)  # repacked


class FakeTimeoutGroupState(FakeGroupState):
    def __init__(self, timed_out=False):
        super().__init__()
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    def remove(self):
        self._val = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_view_state_ttl_off_by_default_never_arms_timeout():
    """Reference parity (ST5): without the knob the fold must not arm any
    state timeout — the view state lives forever, like the Mongo view."""
    state = FakeTimeoutGroupState()
    _run(state, [_activated(1)])
    assert state.timeout_ms is None


def test_view_state_ttl_evicts_then_reinserts_fresh():
    """SURVEY §7 deviation knob: a timed-out key is evicted silently; a
    later event re-inserts a FRESH view (clean restart, not a corrupt
    half-merge with the expired state)."""
    state = FakeTimeoutGroupState()
    out = list(
        fold_state_func(
            ("tx-1",), [_frame([_activated(1)])], state,
            view_state_ttl_seconds=30.0,
        )
    )
    assert state.timeout_ms == 30_000  # armed (and re-armed) on update
    assert len(out) == 1

    # the key goes idle past the TTL: Spark invokes the fold with
    # hasTimedOut=True and no rows — state drops, nothing is emitted
    expired = FakeTimeoutGroupState(timed_out=True)
    expired._val = state._val
    out = list(
        fold_state_func(
            ("tx-1",), iter([]), expired, view_state_ttl_seconds=30.0,
        )
    )
    assert expired.removed and not expired.exists
    assert out == []

    # the transaction speaks again: absent state ⇒ fresh view from the new
    # event on; the pre-TTL email is gone, the seen-set restarts
    revived = FakeTimeoutGroupState()
    row = _run_ttl(revived, [_activated(7, email="fresh-after-ttl")])
    assert row["email"] == "fresh-after-ttl"
    assert json.loads(revived.get[0])["seen"] == ["ev-7"]


def _run_ttl(state, events):
    return _row(
        list(
            fold_state_func(
                ("tx-1",), [_frame(events)], state, view_state_ttl_seconds=30.0
            )
        )
    )
