"""Batch CDC fold vs the pure-Python reference replay oracle.

Covers the semantic matrix of the reference's
TransactionViewUpsertServiceTest.kt (2,863 LoC of per-event-type ×
{view absent / older / newer} cases) via differential testing plus
hand-written scenario goldens (FIXTURES.md §4 axes).
"""

from __future__ import annotations

import pytest

from pagopa_ecommerce_cdc_service_spark.operators import transactions_view_from_log
from pagopa_ecommerce_cdc_service_spark.schemas import (
    EVENT_ENVELOPE_TYPE,
    TRANSACTION_VIEW_CLASS,
)
from pagopa_ecommerce_cdc_service_spark.sources import generate_event_log

from reference_replay import replay_reference

VIEW_FIELDS = [
    "transactionId", "email", "paymentNotices", "clientId", "creationDate",
    "userId", "status", "lastProcessedEventAt", "paymentGateway",
    "paymentTypeCode", "pspId", "feeTotal", "authorizationRequestId",
    "authorizationCode", "rrn", "gatewayAuthorizationStatus", "endToEndId",
    "authorizationErrorCode", "sendPaymentResultOutcome", "closureErrorData",
    "_class",
]


def events_to_df(spark, events):
    return spark.createDataFrame(events, schema=EVENT_ENVELOPE_TYPE)


def spark_views(spark, events):
    df = events_to_df(spark, events)
    rows = transactions_view_from_log(df).collect()
    return {r["transactionId"]: r.asDict(recursive=True) for r in rows}


def normalize(view: dict) -> dict:
    out = {}
    for f in VIEW_FIELDS:
        v = view.get(f)
        if f == "paymentNotices" and v is not None:
            v = [dict(n) for n in v]
        if f == "closureErrorData" and v is not None:
            v = dict(v)
        out[f] = v
    return out


def assert_views_equal(spark_result: dict, oracle_result: dict):
    assert set(spark_result) == set(oracle_result), (
        f"key sets differ: only-spark={set(spark_result) - set(oracle_result)} "
        f"only-oracle={set(oracle_result) - set(spark_result)}"
    )
    for k in sorted(oracle_result):
        s, o = normalize(spark_result[k]), normalize(oracle_result[k])
        assert s == o, f"view mismatch for {k}:\n  spark : {s}\n  oracle: {o}"


@pytest.mark.parametrize("seed", [42, 7, 1234])
def test_fold_matches_replay(spark, seed):
    events = generate_event_log(seed=seed, n_transactions=60)
    assert_views_equal(spark_views(spark, events), replay_reference(events))


def _mixed_adversarial_log():
    # high rates of every skip/dup/tie axis at once
    return generate_event_log(
        seed=99, n_transactions=40, p_duplicate=0.3, p_equal_ts=0.4,
        p_ttl=0.15, p_bad_optype=0.15, p_unknown_code=0.15,
    )


def _hot_key_log():
    # one key holds 2/3 of all events (ids kept unique): the skew shape the
    # single exchange serializes into one task
    events = generate_event_log(seed=23, n_transactions=30)
    hot = sorted({e["transactionId"] for e in events})[0]
    for i, e in enumerate(events):
        if i % 3 != 0:
            e["transactionId"] = hot
            e["id"] = f"hot-{i}-{e['id']}"
    return events


@pytest.mark.parametrize(
    "make_log", [_mixed_adversarial_log, _hot_key_log], ids=["mixed", "hot_key"]
)
def test_fold_matches_replay_adversarial(spark, make_log):
    events = make_log()
    assert_views_equal(spark_views(spark, events), replay_reference(events))


def test_status_order_invariance(spark):
    """Status + lastProcessedEventAt are arrival-order invariant when event
    times are distinct AND the newest event bears a status (the reference's
    core invariant, TransactionViewUpsertService.kt:83-103). When the newest
    event is timestamp-only (a *_RETRIED event), the reference itself is
    order-sensitive: processed first, it blocks every older status event —
    so those keys are excluded (same caveat noted in the reference at
    updateRefundRetriedData, "Maybe it could be skipped")."""
    from pagopa_ecommerce_cdc_service_spark.event_mapping import EVENT_SPECS

    base = generate_event_log(
        seed=5, n_transactions=30, shuffle=False,
        p_duplicate=0, p_equal_ts=0, p_ttl=0, p_bad_optype=0, p_unknown_code=0,
    )
    import random

    from reference_replay import parse_millis

    shuffled = [dict(e) for e in base]
    random.Random(17).shuffle(shuffled)
    for i, e in enumerate(shuffled):
        e["seq"] = i

    # keys whose max-ts valid event bears a status
    newest: dict[str, dict] = {}
    for e in base:
        if e["eventCode"] not in EVENT_SPECS:
            continue
        k = e["transactionId"]
        if k not in newest or parse_millis(e["creationDate"]) > parse_millis(newest[k]["creationDate"]):
            newest[k] = e
    invariant_keys = {
        k for k, e in newest.items() if EVENT_SPECS[e["eventCode"]].status_py is not None
    }

    v1 = spark_views(spark, base)
    v2 = spark_views(spark, shuffled)
    assert set(v1) == set(v2)
    assert invariant_keys  # the test must actually exercise something
    for k in v1:
        assert v1[k]["lastProcessedEventAt"] == v2[k]["lastProcessedEventAt"], k
        if k in invariant_keys:
            assert v1[k]["status"] == v2[k]["status"], k


# ---------------------------------------------------------------------------
# Hand-written scenario goldens
# ---------------------------------------------------------------------------

def _ev(seq, tx, code, iso, data=None, *, id=None, ttl=None, op="insert"):
    return {
        "id": id or f"e{seq}",
        "transactionId": tx,
        "eventCode": code,
        "creationDate": iso,
        "seq": seq,
        "ttl": ttl,
        "operationType": op,
        "data": data,
    }


T0 = "2025-06-01T10:00:00.000000Z"
T1 = "2025-06-01T10:00:01.000000Z"
T2 = "2025-06-01T10:00:02.000000Z"
T3 = "2025-06-01T10:00:03.000000Z"


def test_happy_path_in_order(spark):
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T0,
            {"email": "a@b.c", "clientId": "IO",
             "paymentNotices": [{"paymentToken": "tk", "rptId": "r", "description": "d", "amount": 100}],
             "userId": "u1"}),
        _ev(1, "t", "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT", T1,
            {"paymentGateway": "NPG", "paymentTypeCode": "CP", "pspId": "p1",
             "fee": 150, "authorizationRequestId": "ar1"}),
        _ev(2, "t", "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT", T2,
            {"authorizationCode": "ac", "rrn": "rr",
             "gatewayAuthData": {"kind": "NPG", "operationResult": "EXECUTED",
                                  "outcome": None, "paymentEndToEndId": "e2e", "errorCode": None}}),
        _ev(3, "t", "TRANSACTION_CLOSED_EVENT", T3,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "CLOSED"
    assert v["email"] == "a@b.c"
    assert v["feeTotal"] == 150
    assert v["authorizationCode"] == "ac"
    assert v["gatewayAuthorizationStatus"] == "EXECUTED"
    assert v["endToEndId"] == "e2e"
    assert v["authorizationErrorCode"] is None  # explicitly unset (null errorCode)
    assert v["sendPaymentResultOutcome"] == "NOT_RECEIVED"
    assert v["creationDate"] == T0
    assert v["userId"] == "u1"
    assert v["_class"] == TRANSACTION_VIEW_CLASS
    assert v["lastProcessedEventAt"] == replay_reference(events)["t"]["lastProcessedEventAt"]


@pytest.mark.parametrize(
    "status_before,expected",
    [
        # full derived-status table for expiration
        # (TransactionViewUpsertService.kt:452-466, exhaustively tested by the
        # reference at TransactionViewUpsertServiceTest.kt:2768-2862)
        ("ACTIVATED", "EXPIRED_NOT_AUTHORIZED"),
        ("CANCELLATION_REQUESTED", "CANCELLATION_EXPIRED"),
        ("AUTHORIZATION_REQUESTED", "EXPIRED"),
        ("AUTHORIZATION_COMPLETED", "EXPIRED"),
        ("CLOSURE_REQUESTED", "EXPIRED"),
        ("CLOSED", "EXPIRED"),
        ("NOTIFIED_OK", "EXPIRED"),
        ("UNAUTHORIZED", "EXPIRED"),
        (None, "EXPIRED"),
    ],
)
def test_expired_status_mapping_full_enum(spark, status_before, expected):
    events = [
        _ev(0, "t", "TRANSACTION_EXPIRED_EVENT", T0,
            {"statusBeforeExpiration": status_before}),
    ]
    assert spark_views(spark, events)["t"]["status"] == expected


@pytest.mark.parametrize(
    "canceled,outcome,expected",
    [
        # closed-event dispatch (TransactionViewUpsertService.kt:483-503,
        # reference test :1246-1309): user cancellation beats the outcome
        (True, "OK", "CANCELED"),
        (True, "KO", "CANCELED"),
        (False, "OK", "CLOSED"),
        (False, "KO", "UNAUTHORIZED"),
        (None, "OK", "CLOSED"),
        (False, None, None),  # no recognizable outcome → no status write
    ],
)
def test_closed_status_mapping(spark, canceled, outcome, expected):
    events = [
        _ev(0, "t", "TRANSACTION_CLOSED_EVENT", T0,
            {"wasCanceledByUser": canceled, "responseOutcome": outcome}),
    ]
    assert spark_views(spark, events)["t"]["status"] == expected


@pytest.mark.parametrize(
    "outcome,expected",
    [
        # receipt-added dispatch (TransactionViewUpsertService.kt:567-584)
        ("OK", "NOTIFIED_OK"),
        ("KO", "NOTIFIED_KO"),
        (None, None),
    ],
)
def test_receipt_added_status_mapping(spark, outcome, expected):
    events = [
        _ev(0, "t", "TRANSACTION_USER_RECEIPT_ADDED_EVENT", T0,
            {"responseOutcome": outcome}),
    ]
    assert spark_views(spark, events)["t"]["status"] == expected


@pytest.mark.parametrize(
    "kind,expected_status,expected_e2e",
    [
        # polymorphic gateway dispatch (TransactionViewUpsertService.kt:388-424):
        # NPG → operationResult + endToEndId; REDIRECT → outcome, no e2e;
        # unknown kind → warn + no gateway writes at all
        ("NPG", "EXECUTED", "e2e"),
        ("REDIRECT", "KO", None),
        ("UNKNOWN", None, None),
    ],
)
def test_gateway_polymorphic_dispatch(spark, kind, expected_status, expected_e2e):
    events = [
        _ev(0, "t", "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT", T0,
            {"gatewayAuthData": {"kind": kind, "operationResult": "EXECUTED",
                                  "outcome": "KO", "paymentEndToEndId": "e2e",
                                  "errorCode": None}}),
    ]
    v = spark_views(spark, events)["t"]
    assert v["gatewayAuthorizationStatus"] == expected_status
    assert v["endToEndId"] == expected_e2e


def test_out_of_order_status_guarded_data_merged(spark):
    # AUTH_REQUESTED (older ts) arrives after AUTH_COMPLETED (newer ts):
    # status must remain AUTHORIZATION_COMPLETED, enrichment still lands
    # (reference test :609-690)
    events = [
        _ev(0, "t", "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT", T2,
            {"authorizationCode": "ac", "rrn": None,
             "gatewayAuthData": {"kind": "REDIRECT", "operationResult": None,
                                  "outcome": "OK", "paymentEndToEndId": None, "errorCode": "E01"}}),
        _ev(1, "t", "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT", T1,
            {"paymentGateway": "REDIRECT", "paymentTypeCode": "PPAL", "pspId": "p2",
             "fee": 99, "authorizationRequestId": "ar9"}),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "AUTHORIZATION_COMPLETED"
    assert v["pspId"] == "p2"           # unguarded enrich landed
    assert v["feeTotal"] == 99
    assert v["gatewayAuthorizationStatus"] == "OK"   # REDIRECT branch
    assert v["endToEndId"] is None      # REDIRECT never writes endToEndId
    assert v["authorizationErrorCode"] == "E01"
    assert v["rrn"] is None             # explicit unset


def test_equal_timestamp_first_processed_wins(spark):
    # strict `<` guard: second event with identical creationDate does not
    # overwrite status (FIXTURES.md §4.4)
    events = [
        _ev(0, "t", "TRANSACTION_REFUND_REQUESTED_EVENT", T1),
        _ev(1, "t", "TRANSACTION_REFUNDED_EVENT", T1),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "REFUND_REQUESTED"


def test_duplicate_event_id_dropped(spark):
    events = [
        _ev(0, "t", "TRANSACTION_USER_CANCELED_EVENT", T1, id="same"),
        _ev(1, "t", "TRANSACTION_USER_CANCELED_EVENT", T1, id="same"),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "CANCELLATION_REQUESTED"
    assert_views_equal(spark_views(spark, events), replay_reference(events))


def test_skips_ttl_bad_optype_unknown_code(spark):
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T0,
            {"email": "x@y.z", "clientId": "IO", "paymentNotices": [], "userId": None}),
        _ev(1, "t", "TRANSACTION_REFUNDED_EVENT", T3, ttl=120),          # ttl → skip
        _ev(2, "t", "TRANSACTION_REFUND_ERROR_EVENT", T3, op="delete"),  # optype → skip
        _ev(3, "t", "BOGUS_EVENT", T3),                                  # unknown → skip
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "ACTIVATED"
    assert v["userId"] is None
    # skipped events must not advance the guard timestamp
    assert v["lastProcessedEventAt"] == replay_reference(events)["t"]["lastProcessedEventAt"]


def test_unset_resurrection_blocked(spark):
    # later-arriving AUTH_COMPLETED with null code must CLEAR the field even
    # though its event-time is older (unguarded set-or-unset, FIXTURES §4.7)
    events = [
        _ev(0, "t", "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT", T2,
            {"authorizationCode": "KEEP?", "rrn": "r1",
             "gatewayAuthData": {"kind": "NPG", "operationResult": "EXECUTED",
                                  "outcome": None, "paymentEndToEndId": None, "errorCode": None}}),
        _ev(1, "t", "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT", T1,
            {"authorizationCode": None, "rrn": None,
             "gatewayAuthData": {"kind": "NPG", "operationResult": "DECLINED",
                                  "outcome": None, "paymentEndToEndId": None, "errorCode": "E99"}}),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "AUTHORIZATION_COMPLETED"
    assert v["authorizationCode"] is None   # cleared by last-arriving write
    assert v["rrn"] is None
    assert v["gatewayAuthorizationStatus"] == "DECLINED"  # unguarded, last arrival
    assert v["authorizationErrorCode"] == "E99"


def test_closed_blocked_still_unsets_closure_error(spark):
    # CLOSURE_ERROR applies (newer); CLOSED arrives later with OLDER ts:
    # its status is blocked but the dataUpdate unset of closureErrorData is
    # unconditional (updateClosedData dataUpdate, :486)
    ced = {"httpErrorCode": "500", "errorDescription": "boom", "errorType": "KO_RESPONSE_RECEIVED"}
    events = [
        _ev(0, "t", "TRANSACTION_CLOSURE_ERROR_EVENT", T2, {"closureErrorData": ced}),
        _ev(1, "t", "TRANSACTION_CLOSED_EVENT", T1,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "CLOSURE_ERROR"          # guard blocked CLOSED
    assert v["closureErrorData"] is None            # unguarded unset still landed
    assert v["sendPaymentResultOutcome"] == "NOT_RECEIVED"  # from applied CLOSURE_ERROR


def test_timestamp_only_event_advances_guard(spark):
    # REFUND_RETRIED carries no status but its timestamp still blocks older
    # status events (reference comment :643-645)
    events = [
        _ev(0, "t", "TRANSACTION_REFUND_REQUESTED_EVENT", T0),
        _ev(1, "t", "TRANSACTION_REFUND_RETRIED_EVENT", T3),
        _ev(2, "t", "TRANSACTION_REFUND_ERROR_EVENT", T1),  # older than T3 → blocked
    ]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "REFUND_REQUESTED"
    assert v["lastProcessedEventAt"] == replay_reference(events)["t"]["lastProcessedEventAt"]


def test_view_absent_non_activated_first(spark):
    # non-ACTIVATED event arrives first: upsert creates the view (FIXTURES §4.3)
    events = [_ev(0, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T1)]
    v = spark_views(spark, events)["t"]
    assert v["status"] == "CLOSURE_REQUESTED"
    assert v["email"] is None
    assert v["_class"] == TRANSACTION_VIEW_CLASS


# ---------------------------------------------------------------------------
# SCD2 status history (operators/cdc_fold.status_history)
# ---------------------------------------------------------------------------
def _history(spark, events):
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
        prepare_events,
        status_history,
    )

    rows = status_history(prepare_events(events_to_df(spark, events))).collect()
    return [
        (r["version"], r["status"], r["valid_from_ms"], r["valid_to_ms"],
         r["is_current"])
        for r in sorted(rows, key=lambda r: (r["transactionId"], r["version"]))
    ]


def test_status_history_intervals_and_current_flag(spark):
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T0, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T1),
        _ev(2, "t", "TRANSACTION_CLOSED_EVENT", T2,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    h = _history(spark, events)
    assert [x[1] for x in h] == ["ACTIVATED", "CLOSURE_REQUESTED", "CLOSED"]
    # intervals chain: each valid_to equals the next valid_from; only the
    # last row is current/open
    assert h[0][3] == h[1][2] and h[1][3] == h[2][2]
    assert [x[4] for x in h] == [False, False, True]
    assert [x[0] for x in h] == [1, 2, 3]


def test_status_history_stale_event_opens_no_interval(spark):
    # the out-of-order CLOSURE_REQUESTED (older creationDate, later arrival)
    # fails the strict-newer guard: the view never held that status, so the
    # history must not contain it either
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T1, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T0),
        _ev(2, "t", "TRANSACTION_CLOSED_EVENT", T2,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    h = _history(spark, events)
    assert [x[1] for x in h] == ["ACTIVATED", "CLOSED"]


def test_status_history_duplicate_id_and_same_status_collapse(spark):
    # a redelivered event (same id) is dropped by the lock dedup; a second
    # APPLIED write of the SAME status extends the open interval instead of
    # versioning it
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T0, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T1),
        _ev(2, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T1, id="e1"),
        _ev(3, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T2, id="e3"),
    ]
    h = _history(spark, events)
    assert [x[1] for x in h] == ["ACTIVATED", "CLOSURE_REQUESTED"]
    # the open interval starts at its FIRST write (T1), not the re-write
    assert h[1][2] < h[1][3] if h[1][3] is not None else True
    assert h[1][4] is True


# ---------------------------------------------------------------------------
# Point-in-time status lookup (operators/cdc_fold.status_at_events)
# ---------------------------------------------------------------------------
def _pit(spark, events):
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
        prepare_events,
        status_at_events,
    )

    rows = status_at_events(prepare_events(events_to_df(spark, events))).collect()
    return {r["seq"]: (r["status_at"], r["version_at"]) for r in rows}


def test_pit_status_boundaries_and_stale_probe(spark):
    # history: ACTIVATED@T1 -> CLOSED@T3. Probes are the events themselves:
    # - seq 0 (the ACTIVATED write at T1): sees its OWN status (boundary
    #   inclusive — a status applies AT its valid_from instant)
    # - seq 1 (a stale CLOSURE_REQUESTED at T0, guard-rejected): probes
    #   BEFORE the first interval -> NULL status
    # - seq 2 (CLOSED at T3): sees CLOSED, version 2
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T1, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T0),
        _ev(2, "t", "TRANSACTION_CLOSED_EVENT", T3,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    got = _pit(spark, events)
    assert got[0] == ("ACTIVATED", 1)
    assert got[1] == (None, None)
    assert got[2] == ("CLOSED", 2)


def test_pit_status_mid_interval_probe(spark):
    # a non-status event (probe at T2) between two writes resolves to the
    # status valid over [T1, T3): ACTIVATED
    events = [
        _ev(0, "t", "TRANSACTION_ACTIVATED_EVENT", T1, {"email": "a@b.c"}),
        _ev(1, "t", "TRANSACTION_AUTH_DUMMY", T2),  # unknown code: filtered
        _ev(2, "t", "TRANSACTION_CLOSURE_REQUESTED_EVENT", T2),
        _ev(3, "t", "TRANSACTION_CLOSED_EVENT", T3,
            {"wasCanceledByUser": False, "responseOutcome": "OK"}),
    ]
    got = _pit(spark, events)
    # seq 2 IS a status write at T2: it sees itself (CLOSURE_REQUESTED, v2)
    assert got[2] == ("CLOSURE_REQUESTED", 2)
    assert got[3] == ("CLOSED", 3)
    assert 1 not in got  # unknown eventCode never reaches the probe set
