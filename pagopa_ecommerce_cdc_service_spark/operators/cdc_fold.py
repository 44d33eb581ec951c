"""Batch CDC fold: event log → transactions view.

Re-expresses the reference's per-event upsert pipeline
(/root/reference/src/main/kotlin/it/pagopa/ecommerce/cdc/services/TransactionViewUpsertService.kt:60-250
and datacapture/EcommerceTransactionsLogEventsStream.kt:79-135) as one
deterministic, order-insensitive fold per ``transactionId``.

Semantics (derived in SURVEY.md §2.3-2.4; the reference's three-attempt
update/upsert dance collapses into pure expressions because a shuffle by key
serializes each key's events and removes the write-write race):

* Events are processed in **arrival order** ``seq`` (the change-stream
  delivery order). ``lastProcessedEventAt`` after a prefix of events equals
  the prefix's running max event-time, so an event *applies* its guarded
  update iff its event-time is **strictly greater** than the prefix max of
  all earlier valid events (strict ``<`` guard,
  TransactionViewUpsertService.kt:144).
* Final value of each view field = value of the **last-arriving effective
  write** of that field, where unguarded writes (reference ``dataUpdate``)
  are always effective and guarded writes only when the event applied.
* ``status`` = status of the last-arriving *applied* status-bearing event;
  ``lastProcessedEventAt`` = max event-time over applied events.

One rule, one path: the id-dedup and the strict-newer guard live in
``_applied``, which the view fold, :func:`status_history` and
:func:`fold_field_lineage` all start from; one CASE expression per write
(``_status_op``, ``_field_op``) yields either the written value or the
writer's identity. The view's column order is ``TRANSACTIONS_VIEW_TYPE``'s.

Scale design: ONE shuffle (hash by ``transactionId``), planned in
``_applied`` and reused by every later per-key window and groupBy. Per-field
folds are ``max(struct(seq, value))`` aggregates: partial-aggregable,
whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import CdcConfig, DEFAULT_CONFIG
from ..event_mapping import (
    EVENT_SPECS,
    KNOWN_EVENT_CODES,
    WRITTEN_VIEW_FIELDS,
    WriteMode,
    writers_of,
)
from ..schemas import TRANSACTION_VIEW_CLASS, TRANSACTIONS_VIEW_TYPE

_KEY = "transactionId"
_TS = "_ts_millis"
_APPLIED = "_applied"


def parse_creation_date_millis(creation_date: Column) -> Column:
    """ISO-8601 zoned string → epoch millis.

    Mirrors ``ZonedDateTime.parse(...).toInstant().toEpochMilli()``
    (TransactionViewUpsertService.kt:144). Handles up to 9 fractional digits
    by trimming to micros (Spark timestamp precision) before parsing.
    """
    # normalize: 9-digit (nano) fractions → 6-digit (micro); Z offset kept
    trimmed = F.regexp_replace(
        creation_date, r"(\.\d{6})\d+(?=[+-Z])", r"$1"
    )
    return F.unix_millis(F.to_timestamp(trimmed))


def prepare_events(df: DataFrame, config: CdcConfig = DEFAULT_CONFIG) -> DataFrame:
    """Filter/validate the raw envelope stream and attach ``_ts_millis``.

    Mirrors the reference's intake chain:
    - operationType server-side match (EcommerceTransactionsLogEventsStream.kt:79-85)
    - ttl-marked migration artifacts skipped (:111-120)
    - unknown eventCode rejected (CdcEventTypeException,
      TransactionViewUpsertService.kt:292-298)
    """
    out = df
    if "operationType" in df.columns:
        out = out.filter(F.col("operationType").isin(*config.operation_types))
    if "ttl" in df.columns:
        out = out.filter(F.col("ttl").isNull())
    out = out.filter(F.col("eventCode").isin(*KNOWN_EVENT_CODES))
    # identity guard shared by every intake path (Kafka already enforces it
    # in parse_envelope_lines): the reference cannot process identity-less
    # events either — the lock is keyed on event id and the view on
    # transactionId (TransactionViewUpsertService.kt:138)
    out = out.filter(F.col("id").isNotNull() & F.col("transactionId").isNotNull())
    ts_millis = parse_creation_date_millis(F.col("creationDate"))
    return out.withColumn(_TS, ts_millis).filter(F.col(_TS).isNotNull())


def _applied(prepared: DataFrame, key: str) -> DataFrame:
    """Id-dedup plus the strict-newer guard: keeps each event id's first
    delivery and adds the boolean ``_applied`` column.

    ONE explicit shuffle by the fold key. hash(key) satisfies the
    clustered-distribution requirements of the (key, id) dedup window, the
    key-only guard window AND every later per-key window or groupBy, so
    Catalyst plans a single Exchange (left to EnsureRequirements it would
    shuffle twice: once on (key, id), once on key).
    """
    df = prepared.repartition(key)

    # exclusive-lock dedup by event id (CdcLockService.kt:40-50): first
    # delivery wins.
    w_dedup = Window.partitionBy(key, "id").orderBy("seq")
    df = (
        df.withColumn("_rn_id", F.row_number().over(w_dedup))
        .filter(F.col("_rn_id") == 1)
        .drop("_rn_id")
    )

    # guard: applies iff strictly newer than every earlier valid event
    w_prefix = (
        Window.partitionBy(key)
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix_max = F.max(F.col(_TS)).over(w_prefix)
    return df.withColumn(_APPLIED, prefix_max.isNull() | (F.col(_TS) > prefix_max))


def _value_branch(value: Column, guarded: bool) -> Column:
    """Write-op struct carrying the written value, ordered by arrival."""
    return F.struct(F.col("seq").alias("_s"), value.alias("v"))


def _lineage_meta(value: Column, guarded: bool) -> Column:
    """Writer-metadata struct for one potential write: ordered by arrival
    ``seq`` (max = last-arriving effective write, exactly the fold's
    winner), carrying the writer event's identity instead of ``value``."""
    return F.struct(
        F.col("seq").alias("_s"),
        F.col("id").alias("event_id"),
        F.col("eventCode").alias("event_code"),
        F.col(_TS).alias("event_ts_millis"),
        F.lit(guarded).alias("guarded"),
    )


_Branch = Callable[[Column, bool], Column]


def _status_op(branch: _Branch = _value_branch) -> Column:
    """Chained CASE building the guarded status write-op: applied
    status-bearing events with a non-null target status."""
    op = None
    for code, spec in EVENT_SPECS.items():
        if spec.status_col is None:
            continue
        value = spec.status_col()
        cond = (F.col("eventCode") == code) & F.col(_APPLIED) & value.isNotNull()
        b = branch(value, True)
        op = F.when(cond, b) if op is None else op.when(cond, b)
    assert op is not None
    return op


def _field_op(view_field: str, branch: _Branch = _value_branch) -> Column:
    """Chained CASE building the write-op for one view field. Its max over
    a key is the last-arriving effective write: the written value with
    :func:`_value_branch`, the writer's identity with
    :func:`_lineage_meta`."""
    op = None
    for code, w in writers_of(view_field):
        cond = F.col("eventCode") == code
        if w.cond_col is not None:
            cond = cond & w.cond_col()
        if w.guarded:
            cond = cond & F.col(_APPLIED)
        value = w.value_col()
        if w.mode is WriteMode.SET_IF_NONNULL:
            cond = cond & value.isNotNull()
        b = branch(value, w.guarded)
        op = F.when(cond, b) if op is None else op.when(cond, b)
    assert op is not None, f"no writers for {view_field}"
    return op


def fold_transactions_view(prepared: DataFrame) -> DataFrame:
    """Fold a prepared event log into the transactions view (batch mode).

    ``prepared`` must be the output of :func:`prepare_events` (or carry a
    ``_ts_millis`` column) and a monotone arrival-order ``seq`` column.
    """
    df = _applied(prepared, _KEY)

    view = df.groupBy(F.col(_KEY).alias("transactionId")).agg(
        F.max(_status_op())["v"].alias("status"),
        F.max(F.when(F.col(_APPLIED), F.col(_TS))).alias("lastProcessedEventAt"),
        *(F.max(_field_op(f))["v"].alias(f) for f in WRITTEN_VIEW_FIELDS),
    )

    # upsert sets _class = Transaction::class.java.canonicalName on insert
    # (TransactionViewUpsertService.kt:71-75)
    view = view.withColumn("_class", F.lit(TRANSACTION_VIEW_CLASS))
    return view.select(*TRANSACTIONS_VIEW_TYPE.fieldNames())


def transactions_view_from_log(
    raw: DataFrame, config: CdcConfig = DEFAULT_CONFIG
) -> DataFrame:
    """End-to-end batch replay: raw envelope log → transactions view."""
    return fold_transactions_view(prepare_events(raw, config))


def status_history(prepared: DataFrame, key: str = "transactionId") -> DataFrame:
    """SCD Type-2 status intervals of the materialized view's write history.

    ``prepared`` must be the output of :func:`prepare_events` with a
    monotone arrival-order ``seq`` column (the contract of
    :func:`fold_transactions_view`, whose dedup + strict-newer guard
    :func:`_applied` this shares — TransactionViewUpsertService.kt:134-149
    semantics).
    An interval opens when an APPLIED status-bearing event writes a status
    different from the view's previous one; applied timestamps are
    strictly increasing per key by the guard's definition, so intervals
    are well-formed. The one exchange on ``key`` of :func:`_applied` also
    serves all three history windows.
    """
    df = _applied(prepared, key)
    writes = df.withColumn("st", _status_op()["v"]).filter(F.col("st").isNotNull())
    w_seq = Window.partitionBy(key).orderBy("seq")
    changes = writes.withColumn("prev", F.lag("st").over(w_seq)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("st"))
    )
    return changes.select(
        F.col(key).alias("transactionId"),
        F.row_number().over(w_seq).cast("long").alias("version"),
        F.col("st").alias("status"),
        F.col(_TS).alias("valid_from_ms"),
        F.lead(F.col(_TS)).over(w_seq).alias("valid_to_ms"),
        F.lead(F.col(_TS)).over(w_seq).isNull().alias("is_current"),
    )


def status_at_events(prepared: DataFrame, key: str = "transactionId") -> DataFrame:
    """POINT-IN-TIME status lookup: for every envelope event, the status
    the materialized view held at the event's business timestamp — the
    temporal-table (`FOR SYSTEM_TIME AS OF`) probe over
    :func:`status_history`'s intervals.

    Computed WITHOUT a range join: history rows (kind 0) and probe rows
    (kind 1) union on the key and a last-non-null window resolves each
    probe against the most recent interval start at-or-before its
    timestamp (history sorts before probes at equal timestamps, so a
    status applies AT its own valid_from instant). Probes that precede the
    first interval resolve to NULL. One key exchange serves the whole
    lookup — the PIT pattern that replaces the O(probes × intervals)
    theta-join at scale; applied interval starts are strictly increasing
    per key (the guard's definition), so the window order is total.
    """
    hist = status_history(prepared, key)
    h = hist.select(
        F.col("transactionId").alias("k"),
        F.col("valid_from_ms").alias("t"),
        F.lit(0).alias("kind"),
        (-F.col("version")).alias("ord"),
        "status",
        "version",
        F.lit(None).cast("string").alias("code"),
    )
    p = prepared.select(
        F.col(key).alias("k"),
        F.col(_TS).alias("t"),
        F.lit(1).alias("kind"),
        F.col("seq").alias("ord"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("version"),
        F.col("eventCode").alias("code"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "kind", "ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = (
        h.unionByName(p)
        .withColumn("status_at", F.last("status", ignorenulls=True).over(w))
        .withColumn("version_at", F.last("version", ignorenulls=True).over(w))
    )
    return u.filter(F.col("kind") == 1).select(
        F.col("k").alias("transactionId"),
        F.col("ord").alias("seq"),
        F.col("t").alias("probe_ts_ms"),
        F.col("code").alias("event_code"),
        "status_at",
        "version_at",
    )


def fold_field_lineage(prepared: DataFrame) -> DataFrame:
    """Per-field column lineage of the CDC fold: for every view field,
    WHICH event's write produced the field's final value.

    Generalizes the per-event span projection (streaming/tracing.py) to the
    full per-field write map of the reference's upsert service
    (TransactionViewUpsertService.kt:308-659): each field's lineage row is
    the last-arriving EFFECTIVE write of that field — unguarded writes
    always effective, guarded writes only when the event applied under the
    strict-newer guard (TransactionViewUpsertService.kt:134-149). Fields
    nothing ever wrote for a transaction have no row (the view holds their
    insert-time default NULL).

    Output: one row per (transactionId, field) with the writer's event id,
    event code, event-time millis, and whether the winning write was
    guarded. ``status`` and ``lastProcessedEventAt`` are included as
    fields; ``lastProcessedEventAt``'s writer is the last applied event
    (applied event-times are strictly increasing in arrival order, so
    last-arriving = max event-time — the fold's value).

    Scale shape: identical to :func:`fold_transactions_view` — the ONE
    exchange of :func:`_applied` also serves the final groupBy; per-field
    lineage folds are partial-aggregable ``max(struct)``; the long format
    comes from a post-aggregation explode over an O(#fields) array, no
    extra shuffle.
    """
    df = _applied(prepared, _KEY)

    lpea_meta = _lineage_meta(F.col(_TS), True)
    g = df.groupBy(F.col(_KEY).alias("transactionId")).agg(
        F.max(_status_op(_lineage_meta)).alias("_lin_status"),
        F.max(F.when(F.col(_APPLIED), lpea_meta)).alias("_lin_lpea"),
        *(
            F.max(_field_op(f, _lineage_meta)).alias(f"_lin_{f}")
            for f in WRITTEN_VIEW_FIELDS
        ),
    )

    lin_cols = {"status": "_lin_status", "lastProcessedEventAt": "_lin_lpea"}
    lin_cols.update((f, f"_lin_{f}") for f in WRITTEN_VIEW_FIELDS)
    entries = [
        F.struct(F.lit(f).alias("field"), F.col(c).alias("w"))
        for f, c in lin_cols.items()
    ]
    e = g.select("transactionId", F.explode(F.array(*entries)).alias("e"))
    return e.filter(F.col("e.w").isNotNull()).select(
        "transactionId",
        F.col("e.field").alias("field"),
        F.col("e.w.event_id").alias("event_id"),
        F.col("e.w.event_code").alias("event_code"),
        F.col("e.w.event_ts_millis").alias("event_ts_millis"),
        F.col("e.w.guarded").alias("guarded"),
    )
