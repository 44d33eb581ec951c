"""Pure-Python per-event merge — the row-at-a-time twin of the batch fold.

Interprets the same :mod:`event_mapping` table event-by-event in arrival
order, mimicking exactly what the reference does per change-stream element
(/root/reference/src/main/kotlin/it/pagopa/ecommerce/cdc/services/TransactionViewUpsertService.kt:60-250):

  attempt 1: guarded statusUpdate (update iff strictly newer, :160-170)
  attempt 2: unguarded dataUpdate when the guard blocked (:201-250)
  attempt 3: upsert-if-absent applying the statusUpdate + _class (:64-81)

Used by the streaming state fold (per-key incremental state) and by the test
oracle; the batch fold in :mod:`cdc_fold` must produce identical views.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any

from ..config import CdcConfig, DEFAULT_CONFIG
from ..event_mapping import EVENT_SPECS, WriteMode
from ..schemas import TRANSACTION_VIEW_CLASS, TRANSACTIONS_VIEW_TYPE


def parse_millis(iso: str) -> int:
    """ZonedDateTime.parse(...).toInstant().toEpochMilli() equivalent;
    tolerates up to 9 fractional digits (nanos trimmed to micros)."""
    s = iso.replace("Z", "+00:00")
    if "." in s:
        head, rest = s.split(".", 1)
        for i, c in enumerate(rest):
            if not c.isdigit():
                frac, tz = rest[:i], rest[i:]
                break
        else:
            frac, tz = rest, ""
        s = f"{head}.{frac[:6]}{tz}"
    return int(datetime.fromisoformat(s).timestamp() * 1000)


def new_view(transaction_id: str) -> dict[str, Any]:
    # upsert inserts the document with _class (:71-75)
    return {
        "transactionId": transaction_id,
        "_class": TRANSACTION_VIEW_CLASS,
        "lastProcessedEventAt": None,
    }


def is_processable(event: dict[str, Any], config: CdcConfig = DEFAULT_CONFIG) -> bool:
    """Intake filters: operationType match, ttl-marker skip, known code.

    (EcommerceTransactionsLogEventsStream.kt:79-135;
    CdcEventTypeException for unknown codes.)
    """
    if event.get("operationType") not in config.operation_types:
        return False
    if event.get("ttl") is not None:
        return False
    return event.get("eventCode") in EVENT_SPECS


def apply_event(
    view: dict[str, Any],
    event: dict[str, Any],
    ts_millis: int | None = None,
    lineage: dict[str, dict[str, Any]] | None = None,
) -> None:
    """Apply one (already-validated, already-deduped) event to a view dict.

    ``lineage`` (optional): per-field writer-metadata map, updated in place —
    for every field this event EFFECTIVELY writes, the entry becomes this
    event's identity. Sequential overwrite in arrival order is exactly the
    batch lineage law (operators/cdc_fold.fold_field_lineage: last-arriving
    effective write wins via max-over-seq), so replaying a log through this
    function yields the same per-field map — the streaming twin's state.
    """
    spec = EVENT_SPECS[event["eventCode"]]
    ts = ts_millis if ts_millis is not None else parse_millis(event["creationDate"])
    last = view.get("lastProcessedEventAt")
    applied = last is None or last < ts  # strict `<` guard (:144)

    def _meta(guarded: bool) -> dict[str, Any]:
        return {
            "event_id": event.get("id"),
            "event_code": event["eventCode"],
            "event_ts_millis": ts,
            "guarded": guarded,
        }

    if applied:
        view["lastProcessedEventAt"] = ts
        if lineage is not None:
            lineage["lastProcessedEventAt"] = _meta(True)
        if spec.status_py is not None:
            status = spec.status_py(event)
            if status is not None:
                view["status"] = status
                if lineage is not None:
                    lineage["status"] = _meta(True)

    for w in spec.writes:
        if w.cond_py is not None and not w.cond_py(event):
            continue
        if w.guarded and not applied:
            continue
        value = w.value_py(event)
        if w.mode is WriteMode.SET_IF_NONNULL and value is None:
            continue
        view[w.view_field] = value
        if lineage is not None:
            lineage[w.view_field] = _meta(w.guarded)


def view_as_row(view: dict[str, Any]) -> dict[str, Any]:
    """Project a view dict onto the full relational schema (absent ≡ null)."""
    return {f: view.get(f) for f in TRANSACTIONS_VIEW_TYPE.fieldNames()}
