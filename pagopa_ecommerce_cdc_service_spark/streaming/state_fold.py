"""Incremental keyed CDC fold for Structured Streaming.

``applyInPandasWithState`` twin of the batch fold: per ``transactionId``,
state holds the current view document plus the set of processed event ids
(the reference's Redis exclusive lock, CdcLockService.kt:40-50, becomes a
per-key seen-set — partition ownership already serializes each key).

State is deliberately unbounded, matching the reference's Mongo view
(SURVEY.md ST5: no watermark eviction — the view must reflect arbitrarily
late enrichment). At 100 TB scale the state store is RocksDB
(``spark.sql.streaming.stateStore.providerClass``) and state size is
O(#live transactions), not O(#events): the seen-set is capped per key.

Events inside a micro-batch are applied in arrival (``seq``) order, so a
batch replay of the same log through :func:`operators.cdc_fold` yields a
byte-identical view (differential-tested in tests/test_streaming.py).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.python_fold import apply_event, new_view, view_as_row
from ..schemas import TRANSACTIONS_VIEW_TYPE

# cap mirroring the reference's lock TTL intent (10 min of events,
# helm/values-prod.yaml:130): a key's seen-set keeps the most recent ids only.
MAX_SEEN_IDS_PER_KEY = 4096

# streaming output = the view row + the micro-batch's poison-pill quarantine:
# events that threw INSIDE the fold are skipped (view unharmed, stream
# survives) and reported here — the reference's non-retriable-error path
# (EcommerceCDCEventDispatcherService.kt:38-66 retries everything except
# CdcException(retriableError=false), then the stream-level onErrorResume
# logs and drops, EcommerceTransactionsLogEventsStream.kt:202-205).
POISONED_COL = "_poisoned"
STREAM_VIEW_TYPE = T.StructType(
    [
        *TRANSACTIONS_VIEW_TYPE.fields,
        T.StructField(
            POISONED_COL,
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("error", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# the seed column a bootstrap-handoff stream carries (see seed_stream)
SEED_COL = "_seed"


def _clean(v: Any) -> Any:
    """Arrow/pandas → plain-Python (NaN → None, numpy scalars → native)."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_clean(x) for x in v]
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            return v.item()
        except (ValueError, AttributeError):
            return v
    return v


def _unpack(packed_json: str | None) -> dict[str, Any]:
    """Packed state string → state dict: ``view``, ``seen`` and, for the
    lineage/history folds, ``lin``/``hist``. ``seen`` keeps arrival order
    (oldest first) so the cap evicts the OLDEST ids, not
    lexicographically-smallest ones. A key with no state unpacks with no
    ``view``: :func:`_fold_pdfs` starts it from the key's seed row, or fresh."""
    return json.loads(packed_json) if packed_json is not None else {"seen": []}


def _pack(st: dict[str, Any], cap: int) -> str:
    return json.dumps({**st, "seen": st["seen"][-cap:]})


def _seed_view(key: str, seed_json: str) -> dict[str, Any]:
    """A :func:`seed_stream` row → the key's starting view: nulls dropped
    (absent ≡ null on output), the guard carried by ``lastProcessedEventAt``."""
    view = {k: v for k, v in json.loads(seed_json).items() if v is not None}
    view["transactionId"] = key
    view.setdefault("lastProcessedEventAt", None)
    return view


def _fold_pdfs(
    st: dict[str, Any],
    key: str,
    pdf_iter: Iterable[pd.DataFrame],
    lineage: dict[str, dict[str, Any]] | None = None,
    history: list[dict[str, Any]] | None = None,
) -> list[dict[str, str]]:
    """Apply one micro-batch's events (arrival order) to the unpacked state
    ``st`` in place; returns the poison-pill quarantine list. Shared by the
    view, lineage and history folds.

    A :func:`seed_stream` row for the key is taken out before the event
    loop; it starts the view only when the key has no state yet.

    ``lineage`` (optional): per-field writer-metadata map updated alongside
    the view (see :func:`operators.python_fold.apply_event`) — a poisoned
    event leaves BOTH the view and the lineage untouched (scratch-copy
    isolation covers the pair).

    ``history`` (optional): SCD2 status-interval list appended in place —
    an entry opens exactly when an APPLIED event changes the view's status
    (the interval law of operators/cdc_fold.status_history: applied
    timestamps are strictly increasing per key, so entries are born
    ordered). Only ``valid_from_ms`` is stored; ``valid_to``/``is_current``
    derive from the NEXT entry at read time."""
    events: list[dict[str, Any]] = []
    seeds: list[str] = []
    for pdf in pdf_iter:
        if SEED_COL in pdf.columns:
            is_seed = pdf[SEED_COL].notna()
            seeds.extend(pdf.loc[is_seed, SEED_COL])
            # seed rows null the event columns, which widens the non-null
            # longs to float64 on the way to pandas: narrow them back
            pdf = (
                pdf.loc[~is_seed]
                .drop(columns=SEED_COL)
                .astype({"seq": "int64", "_ts_millis": "int64"})
            )
        events.extend(pdf.to_dict("records"))
    events.sort(key=lambda e: e["seq"])
    if "view" not in st:
        st["view"] = _seed_view(key, seeds[0]) if seeds else new_view(key)
    view, seen_list = st["view"], st["seen"]
    seen = set(seen_list)

    poisoned: list[dict[str, str]] = []
    for raw in events:
        e = {k: _clean(v) for k, v in raw.items()}
        eid = e.get("id")
        if eid is None:
            # identity-less events cannot be lock-keyed or folded
            # (reference keys the lock on event id, CdcLockService.kt:40-50,
            # and the view on transactionId); prepare_events filters them,
            # this is defense for direct callers
            continue
        if eid in seen:
            continue  # duplicate delivery (lock semantics)
        seen.add(eid)
        seen_list.append(eid)
        # poison-pill isolation: apply to a scratch copy so a mid-merge
        # failure can't leave the view half-written; a throwing event is
        # quarantined (marked seen — skip, don't retry forever) and the
        # stream survives, like the reference's non-retriable-error skip
        scratch = dict(view)
        scratch_lin = dict(lineage) if lineage is not None else None
        prev_status = view.get("status")
        prev_lpea = view.get("lastProcessedEventAt")
        try:
            apply_event(scratch, e, ts_millis=e.get("_ts_millis"), lineage=scratch_lin)
        except Exception as exc:  # noqa: BLE001 - the whole point: never fatal
            poisoned.append({"id": eid, "error": f"{type(exc).__name__}: {exc}"})
            continue
        view.clear()
        view.update(scratch)
        if lineage is not None:
            lineage.clear()
            lineage.update(scratch_lin)
        if history is not None:
            # applied ⇔ lastProcessedEventAt moved (apply_event's contract);
            # an applied event whose status write CHANGES the status opens
            # an interval at the event's (= the new lpea) timestamp
            if view.get("lastProcessedEventAt") != prev_lpea and (
                view.get("status") is not None
                and view.get("status") != prev_status
            ):
                history.append(
                    {
                        "version": len(history) + 1,
                        "status": view["status"],
                        "valid_from_ms": view["lastProcessedEventAt"],
                    }
                )
    return poisoned


def fold_state_func(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state,  # pyspark.sql.streaming.state.GroupState
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
    view_state_ttl_seconds: float | None = None,
) -> Iterator[pd.DataFrame]:
    if view_state_ttl_seconds is not None and state.hasTimedOut:
        # TTL eviction (CdcConfig.view_state_ttl_seconds — the documented
        # SURVEY §7 deviation knob, OFF by default): drop the idle key's
        # state and emit nothing. If the transaction ever speaks again, the
        # absent-state branch below re-inserts a FRESH view from that event
        # on — a clean restart, never a half-merged corruption.
        for _ in pdf_iter:
            pass  # timed-out groups carry no rows, but the Arrow stream
        # must be drained — returning early kills the Python worker
        state.remove()
        return
    st = _unpack(state.get[0] if state.exists else None)
    poisoned = _fold_pdfs(st, key[0], pdf_iter)
    state.update((_pack(st, seen_ids_cap),))
    if view_state_ttl_seconds is not None:
        # processing-time TTL, re-armed on every update (idle keys expire)
        state.setTimeoutDuration(int(view_state_ttl_seconds * 1000))
    yield pd.DataFrame([{**view_as_row(st["view"]), POISONED_COL: poisoned or None}])


def seed_stream(spark, seed_dir: str):
    """Batch-folded view rows (parquet under ``seed_dir``) → a file stream of
    (``transactionId``, ``_seed`` = the row as JSON). Union it with the
    prepared event stream (``unionByName(..., allowMissingColumns=True)``)
    before :func:`incremental_view`: a key with no state then starts its
    view from its seed row instead of from nothing.

    BOOTSTRAP HANDOFF (the lambda→kappa migration path: batch bootstrap up
    to T, stream from T on one view). The per-key state IS the view dict,
    so seeding is a row→dict conversion; the seen-id list starts empty —
    the batch fold already deduped its half, and the guard semantics carry
    entirely in ``lastProcessedEventAt``. Absent-vs-null collapse is safe:
    the fold never reads a view FIELD to decide a merge (only
    ``lastProcessedEventAt``), and output maps absent → null anyway.

    ``seed_dir`` must be complete before the query starts. The seed source
    has no rate limit, so every seed row then lands in the first
    micro-batch, ahead of any stream event for its key; a seed row that
    arrives after its key already has state is ignored.

    SCOPE: a duplicate STRADDLING the handoff boundary (original delivered
    to the batch half, its at-least-once redelivery to the stream half) is
    out of scope for id-dedup here: guarded merges are still blocked by the
    strict-newer ``lastProcessedEventAt`` check, but an unguarded
    dataUpdate redelivery re-applies. Callers needing that coverage must
    cut the handoff at a quiescent offset (the gate does) or seed seen-ids
    from the batch tail."""
    rows = spark.readStream.schema(TRANSACTIONS_VIEW_TYPE).parquet(seed_dir)
    return rows.select(
        "transactionId", F.to_json(F.struct(*rows.columns)).alias(SEED_COL)
    )


# every fold's state is one packed-JSON string (see _unpack/_pack)
_STATE_TYPE = T.StructType([T.StructField("packed", T.StringType())])


def _apply_with_state(prepared_stream, fold, output_type, timeout="NoTimeout"):
    """Group by ``transactionId`` and run ``fold`` as the keyed stateful
    operator, emitting only the keys a micro-batch touched."""
    return prepared_stream.groupBy("transactionId").applyInPandasWithState(
        fold,
        outputStructType=output_type,
        stateStructType=_STATE_TYPE,
        outputMode="update",
        timeoutConf=timeout,
    )


def incremental_view(
    prepared_stream,
    spark=None,
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
    view_state_ttl_seconds: float | None = None,
):
    """prepared (filtered, _ts_millis-attached) streaming DF → view updates.

    Emits, per micro-batch, one updated view row per touched transaction.
    The stream may carry :func:`seed_stream` rows to start keys from a
    batch-folded view.
    ``seen_ids_cap`` is the per-key dedup horizon (CdcConfig.seen_ids_cap);
    ``view_state_ttl_seconds`` arms per-key processing-time state eviction
    (None = never evict, reference parity — see CdcConfig).

    NOTE: with the TTL armed, the engine keeps scheduling timer-evaluation
    batches (``shouldRunAnotherBatch`` is unconditionally true under
    ProcessingTimeTimeout), so the query never reports itself drained:
    ``processAllAvailable()``/AvailableNow will NOT return. That is the
    correct shape for a TTL deployment — the query must wake to evict idle
    keys — and means drain-style harnesses (the driver gate, tests) should
    only arm the TTL when they poll-and-stop explicitly."""
    def fold(key, pdf_iter, state):
        return fold_state_func(
            key,
            pdf_iter,
            state,
            seen_ids_cap=seen_ids_cap,
            view_state_ttl_seconds=view_state_ttl_seconds,
        )

    return _apply_with_state(
        prepared_stream,
        fold,
        STREAM_VIEW_TYPE,
        "ProcessingTimeTimeout" if view_state_ttl_seconds is not None else "NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming per-field lineage fold (round 10): the deployed-mode twin of the
# batch column-lineage query (operators/cdc_fold.fold_field_lineage — the
# queryable form of the reference's per-field write map,
# TransactionViewUpsertService.kt:308-659). Per-key state carries the view,
# the dedup seen-set AND the per-field writer-metadata map; every effective
# write overwrites its field's entry, so after the whole log the map holds
# exactly the batch law's winner (last-arriving effective write — sequential
# overwrite ≡ max-over-seq). Output per touched key per micro-batch: the
# full current map as an array column, replace-upserted by the keyed sink —
# state and output are O(#fields) per live transaction, not O(#events).
# ---------------------------------------------------------------------------
STREAM_LINEAGE_TYPE = T.StructType(
    [
        T.StructField("transactionId", T.StringType()),
        T.StructField(
            "lineage",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("field", T.StringType()),
                        T.StructField("event_id", T.StringType()),
                        T.StructField("event_code", T.StringType()),
                        T.StructField("event_ts_millis", T.LongType()),
                        T.StructField("guarded", T.BooleanType()),
                    ]
                )
            ),
        ),
    ]
)


def lineage_state_func(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state,  # pyspark.sql.streaming.state.GroupState
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
) -> Iterator[pd.DataFrame]:
    st = _unpack(state.get[0] if state.exists else None)
    lin = st.setdefault("lin", {})
    _fold_pdfs(st, key[0], pdf_iter, lineage=lin)
    state.update((_pack(st, seen_ids_cap),))
    rows = [{"field": f, **m} for f, m in sorted(lin.items())]
    yield pd.DataFrame([{"transactionId": key[0], "lineage": rows or None}])


def incremental_field_lineage(
    prepared_stream,
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
):
    """prepared streaming DF → per-key lineage-map updates (update mode).

    Same dedup + guard semantics as :func:`incremental_view` (the state IS
    the view plus the writer map); restart-safe through the checkpointed
    state store like the view fold."""
    def fold(key, pdf_iter, state):
        return lineage_state_func(key, pdf_iter, state, seen_ids_cap=seen_ids_cap)

    return _apply_with_state(prepared_stream, fold, STREAM_LINEAGE_TYPE)


# ---------------------------------------------------------------------------
# Streaming SCD2 status history (round 10): the temporal-table twin — the
# deployed-mode shape of operators/cdc_fold.status_history. Per-key state
# carries the view (for the guard), the seen-set, and the ordered interval
# list; an entry is appended exactly when an applied event CHANGES the
# view's status (see _fold_pdfs's history hook). Output per touched key:
# the full current interval list; valid_to/is_current derive from the next
# entry at read time. State is O(#status changes) per live transaction.
# ---------------------------------------------------------------------------
STREAM_HISTORY_TYPE = T.StructType(
    [
        T.StructField("transactionId", T.StringType()),
        T.StructField(
            "history",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("version", T.LongType()),
                        T.StructField("status", T.StringType()),
                        T.StructField("valid_from_ms", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


def history_state_func(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state,  # pyspark.sql.streaming.state.GroupState
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
) -> Iterator[pd.DataFrame]:
    st = _unpack(state.get[0] if state.exists else None)
    hist = st.setdefault("hist", [])
    _fold_pdfs(st, key[0], pdf_iter, history=hist)
    state.update((_pack(st, seen_ids_cap),))
    yield pd.DataFrame([{"transactionId": key[0], "history": hist or None}])


def incremental_status_history(
    prepared_stream,
    seen_ids_cap: int = MAX_SEEN_IDS_PER_KEY,
):
    """prepared streaming DF → per-key SCD2 interval-list updates."""
    def fold(key, pdf_iter, state):
        return history_state_func(key, pdf_iter, state, seen_ids_cap=seen_ids_cap)

    return _apply_with_state(prepared_stream, fold, STREAM_HISTORY_TYPE)
