"""The 19-way event-type dispatch as a declarative mapping table.

Replaces the reference's per-event-type merge functions
(/root/reference/src/main/kotlin/it/pagopa/ecommerce/cdc/services/TransactionViewUpsertService.kt:267-659)
with one table interpreted two ways:

- the fold    → Catalyst ``Column`` expressions (operators/cdc_fold.py), for
                the batch fold and for the stream, whose upsert sink folds
                each micro-batch onto the stored view with them
- test oracle → plain-Python evaluators over event dicts
                (operators/python_fold.py) drive a faithful replay
                simulator (tests/reference_replay.py)

Merge semantics (SURVEY.md §2.3-2.4, verified against the reference):

* Every event carries a **guarded** update (the reference's ``statusUpdate``):
  it lands only if the event's ``creationDate`` is strictly newer than the
  view's ``lastProcessedEventAt`` (strict ``<`` guard,
  TransactionViewUpsertService.kt:134-149). Applied guarded updates always
  advance ``lastProcessedEventAt``.
* Some events also carry an **unguarded** update (the reference's
  ``dataUpdate``, applied when the guard blocks:
  TransactionViewUpsertService.kt:201-250). Fields present in both updates are
  therefore *effectively unconditional* — the last-arriving write wins
  regardless of event time.
* ``WriteMode`` distinguishes Mongo ``$set``-vs-``$unset`` shapes:
  SET_ALWAYS writes the value even when null (null ≡ ``$unset``);
  SET_IF_NONNULL skips the write when the value is null.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .schemas import TRANSACTIONS_VIEW_TYPE


class WriteMode(Enum):
    SET_ALWAYS = "set_always"        # null value ≡ explicit $unset
    SET_IF_NONNULL = "set_if_nonnull"  # null value ⇒ no write op at all


def _get(event: dict, *path: str) -> Any:
    cur: Any = event
    for p in path:
        if cur is None:
            return None
        cur = cur.get(p)
    return cur


@dataclass(frozen=True)
class FieldWrite:
    """One potential write of one view field by one event type."""

    view_field: str
    # guarded=True → lands only when the event applies (strictly newer);
    # guarded=False → lands unconditionally (reference dataUpdate).
    guarded: bool
    mode: WriteMode
    value_col: Callable[[], Column]
    value_py: Callable[[dict], Any]
    # extra write condition beyond the event-type match (e.g. gateway kind)
    cond_col: Callable[[], Column] | None = None
    cond_py: Callable[[dict], bool] | None = None


@dataclass(frozen=True)
class EventSpec:
    code: str
    # target-status expression; None for timestamp-only events. A null status
    # value ⇒ no status write (but lastProcessedEventAt still advances).
    status_col: Callable[[], Column] | None
    status_py: Callable[[dict], str | None] | None
    writes: tuple[FieldWrite, ...] = field(default_factory=tuple)


def _d(*path: str) -> Callable[[], Column]:
    return lambda: F.col(".".join(("data",) + path))


def _npg_or_redirect_col() -> Column:
    return F.col("data.gatewayAuthData.kind").isin("NPG", "REDIRECT")


def _npg_or_redirect_py(e: dict) -> bool:
    return _get(e, "data", "gatewayAuthData", "kind") in ("NPG", "REDIRECT")


def _closed_status_col() -> Column:
    return (
        F.when(F.col("data.wasCanceledByUser") == F.lit(True), F.lit("CANCELED"))
        .when(F.col("data.responseOutcome") == "OK", F.lit("CLOSED"))
        .when(F.col("data.responseOutcome") == "KO", F.lit("UNAUTHORIZED"))
    )


def _closed_status_py(e: dict) -> str | None:
    if _get(e, "data", "wasCanceledByUser") is True:
        return "CANCELED"
    return {"OK": "CLOSED", "KO": "UNAUTHORIZED"}.get(_get(e, "data", "responseOutcome"))


def _expired_status_col() -> Column:
    sbe = F.col("data.statusBeforeExpiration")
    return (
        F.when(sbe == "ACTIVATED", F.lit("EXPIRED_NOT_AUTHORIZED"))
        .when(sbe == "CANCELLATION_REQUESTED", F.lit("CANCELLATION_EXPIRED"))
        .otherwise(F.lit("EXPIRED"))
    )


def _expired_status_py(e: dict) -> str:
    return {
        "ACTIVATED": "EXPIRED_NOT_AUTHORIZED",
        "CANCELLATION_REQUESTED": "CANCELLATION_EXPIRED",
    }.get(_get(e, "data", "statusBeforeExpiration"), "EXPIRED")


def _receipt_added_status_col() -> Column:
    ro = F.col("data.responseOutcome")
    return F.when(ro == "OK", F.lit("NOTIFIED_OK")).when(ro == "KO", F.lit("NOTIFIED_KO"))


def _receipt_added_status_py(e: dict) -> str | None:
    return {"OK": "NOTIFIED_OK", "KO": "NOTIFIED_KO"}.get(_get(e, "data", "responseOutcome"))


def _gateway_auth_status_col() -> Column:
    k = F.col("data.gatewayAuthData.kind")
    return F.when(k == "NPG", F.col("data.gatewayAuthData.operationResult")).when(
        k == "REDIRECT", F.col("data.gatewayAuthData.outcome")
    )


def _gateway_auth_status_py(e: dict) -> str | None:
    kind = _get(e, "data", "gatewayAuthData", "kind")
    if kind == "NPG":
        return _get(e, "data", "gatewayAuthData", "operationResult")
    if kind == "REDIRECT":
        return _get(e, "data", "gatewayAuthData", "outcome")
    return None


def _const(v: str) -> tuple[Callable[[], Column], Callable[[dict], str]]:
    return (lambda: F.lit(v)), (lambda e: v)


_NOT_RECEIVED = "NOT_RECEIVED"


EVENT_SPECS: dict[str, EventSpec] = {}


def _spec(code: str, status_col, status_py, *writes: FieldWrite) -> None:
    EVENT_SPECS[code] = EventSpec(code, status_col, status_py, tuple(writes))


# --- TRANSACTION_ACTIVATED_EVENT (updateActivationData, :308-329) ----------
_spec(
    "TRANSACTION_ACTIVATED_EVENT",
    *_const("ACTIVATED"),
    FieldWrite("email", False, WriteMode.SET_ALWAYS, _d("email"), lambda e: _get(e, "data", "email")),
    FieldWrite(
        "paymentNotices", False, WriteMode.SET_ALWAYS,
        _d("paymentNotices"), lambda e: _get(e, "data", "paymentNotices"),
    ),
    FieldWrite("clientId", False, WriteMode.SET_ALWAYS, _d("clientId"), lambda e: _get(e, "data", "clientId")),
    # view.creationDate := event envelope creationDate (:315)
    FieldWrite(
        "creationDate", False, WriteMode.SET_ALWAYS,
        lambda: F.col("creationDate"), lambda e: e.get("creationDate"),
    ),
    FieldWrite(
        "userId", False, WriteMode.SET_IF_NONNULL,
        _d("userId"), lambda e: _get(e, "data", "userId"),
    ),
)

# --- TRANSACTION_AUTHORIZATION_REQUESTED_EVENT (:335-357) ------------------
_spec(
    "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT",
    *_const("AUTHORIZATION_REQUESTED"),
    FieldWrite("paymentGateway", False, WriteMode.SET_ALWAYS, _d("paymentGateway"), lambda e: _get(e, "data", "paymentGateway")),
    FieldWrite("paymentTypeCode", False, WriteMode.SET_ALWAYS, _d("paymentTypeCode"), lambda e: _get(e, "data", "paymentTypeCode")),
    FieldWrite("pspId", False, WriteMode.SET_ALWAYS, _d("pspId"), lambda e: _get(e, "data", "pspId")),
    FieldWrite("feeTotal", False, WriteMode.SET_ALWAYS, _d("fee"), lambda e: _get(e, "data", "fee")),
    FieldWrite("authorizationRequestId", False, WriteMode.SET_ALWAYS, _d("authorizationRequestId"), lambda e: _get(e, "data", "authorizationRequestId")),
)

# --- TRANSACTION_AUTHORIZATION_COMPLETED_EVENT (:363-431) ------------------
_spec(
    "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT",
    *_const("AUTHORIZATION_COMPLETED"),
    # set-or-unset (± in FIXTURES.md): null value means explicit clear (:372-386)
    FieldWrite("authorizationCode", False, WriteMode.SET_ALWAYS, _d("authorizationCode"), lambda e: _get(e, "data", "authorizationCode")),
    FieldWrite("rrn", False, WriteMode.SET_ALWAYS, _d("rrn"), lambda e: _get(e, "data", "rrn")),
    # polymorphic gateway dispatch (:388-424); unknown kind ⇒ no write at all
    FieldWrite(
        "gatewayAuthorizationStatus", False, WriteMode.SET_ALWAYS,
        _gateway_auth_status_col, _gateway_auth_status_py,
        cond_col=_npg_or_redirect_col, cond_py=_npg_or_redirect_py,
    ),
    # endToEndId: NPG branch only, set only when non-null (:392-395)
    FieldWrite(
        "endToEndId", False, WriteMode.SET_IF_NONNULL,
        _d("gatewayAuthData", "paymentEndToEndId"),
        lambda e: _get(e, "data", "gatewayAuthData", "paymentEndToEndId"),
        cond_col=lambda: F.col("data.gatewayAuthData.kind") == "NPG",
        cond_py=lambda e: _get(e, "data", "gatewayAuthData", "kind") == "NPG",
    ),
    # errorCode: both NPG and REDIRECT branches, set-or-unset (:396-402,:409-415)
    FieldWrite(
        "authorizationErrorCode", False, WriteMode.SET_ALWAYS,
        _d("gatewayAuthData", "errorCode"),
        lambda e: _get(e, "data", "gatewayAuthData", "errorCode"),
        cond_col=_npg_or_redirect_col, cond_py=_npg_or_redirect_py,
    ),
)

# --- TRANSACTION_USER_RECEIPT_REQUESTED_EVENT (:436-449) -------------------
_spec(
    "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT",
    *_const("NOTIFICATION_REQUESTED"),
    # present in both updates ⇒ effectively unconditional (:441-442)
    FieldWrite("sendPaymentResultOutcome", False, WriteMode.SET_ALWAYS, _d("responseOutcome"), lambda e: _get(e, "data", "responseOutcome")),
)

# --- TRANSACTION_CLOSED_EVENT (updateClosedData, :483-503) -----------------
_spec(
    "TRANSACTION_CLOSED_EVENT",
    _closed_status_col,
    _closed_status_py,
    # dataUpdate carries an UNGUARDED unset of closureErrorData (:486)
    FieldWrite("closureErrorData", False, WriteMode.SET_ALWAYS, lambda: F.lit(None), lambda e: None),
    # guarded: sendPaymentResultOutcome := NOT_RECEIVED (:487)
    FieldWrite("sendPaymentResultOutcome", True, WriteMode.SET_ALWAYS, *_const(_NOT_RECEIVED)),
)

# --- TRANSACTION_CLOSURE_SYNTHETIC_EVENT (:509-521) ------------------------
_spec(
    "TRANSACTION_CLOSURE_SYNTHETIC_EVENT",
    *_const("CLOSED"),
    FieldWrite("closureErrorData", False, WriteMode.SET_ALWAYS, lambda: F.lit(None), lambda e: None),
    FieldWrite("sendPaymentResultOutcome", True, WriteMode.SET_ALWAYS, *_const(_NOT_RECEIVED)),
)

# --- TRANSACTION_CLOSURE_ERROR_EVENT (:556-564) ----------------------------
_spec(
    "TRANSACTION_CLOSURE_ERROR_EVENT",
    *_const("CLOSURE_ERROR"),
    # guarded set of the whole nested object (:558)
    FieldWrite("closureErrorData", True, WriteMode.SET_ALWAYS, _d("closureErrorData"), lambda e: _get(e, "data", "closureErrorData")),
    FieldWrite("sendPaymentResultOutcome", True, WriteMode.SET_ALWAYS, *_const(_NOT_RECEIVED)),
)

# --- TRANSACTION_CLOSURE_RETRIED_EVENT (timestamp-only, :600-613) ----------
_spec(
    "TRANSACTION_CLOSURE_RETRIED_EVENT",
    None,
    None,
    FieldWrite("sendPaymentResultOutcome", True, WriteMode.SET_ALWAYS, *_const(_NOT_RECEIVED)),
    # guarded, set only when non-null (:605-607)
    FieldWrite("closureErrorData", True, WriteMode.SET_IF_NONNULL, _d("closureErrorData"), lambda e: _get(e, "data", "closureErrorData")),
)

# --- TRANSACTION_EXPIRED_EVENT (:452-466) ----------------------------------
_spec("TRANSACTION_EXPIRED_EVENT", _expired_status_col, _expired_status_py)

# --- fixed-status, status-only events --------------------------------------
_spec("TRANSACTION_REFUND_REQUESTED_EVENT", *_const("REFUND_REQUESTED"))
_spec("TRANSACTION_USER_CANCELED_EVENT", *_const("CANCELLATION_REQUESTED"))
_spec("TRANSACTION_CLOSURE_REQUESTED_EVENT", *_const("CLOSURE_REQUESTED"))
_spec("TRANSACTION_REFUND_ERROR_EVENT", *_const("REFUND_ERROR"))
_spec("TRANSACTION_USER_RECEIPT_ADDED_EVENT", _receipt_added_status_col, _receipt_added_status_py)
_spec("TRANSACTION_ADD_USER_RECEIPT_ERROR_EVENT", *_const("NOTIFICATION_ERROR"))
_spec("TRANSACTION_CLOSURE_FAILED_EVENT", *_const("UNAUTHORIZED"))
_spec("TRANSACTION_REFUNDED_EVENT", *_const("REFUNDED"))

# --- timestamp-only events (:636-659) --------------------------------------
_spec("TRANSACTION_REFUND_RETRIED_EVENT", None, None)
_spec("TRANSACTION_ADD_USER_RECEIPT_RETRY_EVENT", None, None)


KNOWN_EVENT_CODES: tuple[str, ...] = tuple(EVENT_SPECS)
assert len(KNOWN_EVENT_CODES) == 19

# view fields that carry per-event-type writes (order = view schema order)
WRITTEN_VIEW_FIELDS: tuple[str, ...] = tuple(
    f
    for f in TRANSACTIONS_VIEW_TYPE.fieldNames()
    if any(w.view_field == f for spec in EVENT_SPECS.values() for w in spec.writes)
)


def writers_of(view_field: str) -> list[tuple[str, FieldWrite]]:
    """All (eventCode, FieldWrite) pairs that can write ``view_field``."""
    out: list[tuple[str, FieldWrite]] = []
    for code, spec in EVENT_SPECS.items():
        for w in spec.writes:
            if w.view_field == view_field:
                out.append((code, w))
    return out
