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
from pyspark.sql import types as T

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


def _lineage_ops() -> dict[str, Column]:
    """Per lineage field (``status``, ``lastProcessedEventAt``, then the
    written view fields), the writer-metadata op whose max over a key is
    the field's last effective write."""
    return {
        "status": _status_op(_lineage_meta),
        "lastProcessedEventAt": F.when(
            F.col(_APPLIED), _lineage_meta(F.col(_TS), True)
        ),
        **{f: _field_op(f, _lineage_meta) for f in WRITTEN_VIEW_FIELDS},
    }


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

    lin_cols = {"status": "_lin_status", "lastProcessedEventAt": "_lin_lpea"}
    lin_cols.update((f, f"_lin_{f}") for f in WRITTEN_VIEW_FIELDS)
    ops = _lineage_ops()
    g = df.groupBy(F.col(_KEY).alias("transactionId")).agg(
        *(F.max(ops[f]).alias(c) for f, c in lin_cols.items())
    )
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


# ---------------------------------------------------------------------------
# The incremental fold: one micro-batch of prepared events folded onto the
# stored rows of the keys it may touch. The view IS the fold's state, as in
# the reference, whose strict-newer guard is a conditional update against
# the view document's own lastProcessedEventAt
# (TransactionViewUpsertService.kt:134-149); streaming/pipeline's upsert sink
# reads the stored rows of the touched buckets and writes this fold's output
# back in one commit.
#
# Each stored row enters the fold as its key's first event, its SEED row
# (seq -1; every event's arrival-order seq is non-negative): _ts_millis is
# its stored lastProcessedEventAt, so _applied's guard starts from it, and
# every field is written unguarded with its stored value, so any later
# effective write wins over it. The stored row also lists the last
# ``seen_ids_cap`` event ids folded for its key (``_seen``, oldest first);
# each enters as an id-only row at seq -1, which wins _applied's
# first-delivery dedup, so a redelivered event drops out and re-merging a
# committed micro-batch changes nothing. One pass of the batch fold's own
# expressions then yields the new row of every key: a key with no events
# passes through unchanged.
# ---------------------------------------------------------------------------
SEEN_COL = "_seen"
# ``_poisoned`` (the stream's micro-batch rows and the maintained view carry
# it): the ids and errors of events quarantined one by one inside the fold.
# Always null: the fold runs no per-event code, so it has no event to
# quarantine.
POISONED_COL = "_poisoned"
_POISONED_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("error", T.StringType())]
    )
)
_STORED = "_stored"
_POS = "_pos"
_LINEAGE_ENTRY = ("event_id", "event_code", "event_ts_millis", "guarded")
_LPEA = TRANSACTIONS_VIEW_TYPE["lastProcessedEventAt"]
_SEEN = T.StructField(SEEN_COL, T.ArrayType(T.StringType()))
_LINEAGE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("field", T.StringType()),
            T.StructField("event_id", T.StringType()),
            T.StructField("event_code", T.StringType()),
            T.StructField("event_ts_millis", T.LongType()),
            T.StructField("guarded", T.BooleanType()),
        ]
    )
)
_HISTORY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("version", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("valid_from_ms", T.LongType()),
        ]
    )
)
_KEY_FIELD = TRANSACTIONS_VIEW_TYPE[_KEY]
# what each fold step stores per transaction, its hidden ``_seen`` included
_STORED_TYPES = {
    "view": T.StructType(
        [*TRANSACTIONS_VIEW_TYPE.fields, T.StructField(POISONED_COL, _POISONED_TYPE), _SEEN]
    ),
    "lineage": T.StructType(
        [_KEY_FIELD, _LPEA, T.StructField("lineage", _LINEAGE_TYPE), _SEEN]
    ),
    "history": T.StructType(
        [_KEY_FIELD, _LPEA, T.StructField("history", _HISTORY_TYPE), _SEEN]
    ),
}
FOLD_STEPS = tuple(_STORED_TYPES)


def no_poisoned() -> Column:
    """The ``_poisoned`` column, null (see :data:`POISONED_COL`)."""
    return F.lit(None).cast(_POISONED_TYPE).alias(POISONED_COL)


def _seeded(op: Column, stored: Column) -> Column:
    """``op`` on event rows; ``stored`` on a seed row."""
    return F.when(F.col(_STORED).isNotNull(), stored).otherwise(op)


def _view_step():
    """The transactions view: every field's last effective write, the
    stored value counting as the first one."""
    def stored(f: str) -> Column:
        return _value_branch(F.col(f"{_STORED}.{f}"), False)

    aggs = [
        F.max(_seeded(_status_op(), stored("status")))["v"].alias("status"),
        *(
            F.max(_seeded(_field_op(f), stored(f)))["v"].alias(f)
            for f in WRITTEN_VIEW_FIELDS
        ),
    ]
    out = [
        F.lit(TRANSACTION_VIEW_CLASS).alias(f) if f == "_class" else F.col(f)
        for f in TRANSACTIONS_VIEW_TYPE.fieldNames()
    ]
    return [], aggs, [*out, no_poisoned()]


def _lineage_step():
    """Per-field lineage (:func:`fold_field_lineage`) as one ``lineage``
    array per key: each field's stored entry is its first write."""
    def stored(f: str) -> Column:
        e = F.try_element_at(
            F.filter(F.col(f"{_STORED}.lineage"), lambda x: x["field"] == f), F.lit(1)
        )
        meta = [e[c].alias(c) for c in _LINEAGE_ENTRY]
        return F.when(e.isNotNull(), F.struct(F.col("seq").alias("_s"), *meta))

    ops = _lineage_ops()
    aggs = [F.max(_seeded(op, stored(f))).alias(f"_lin_{f}") for f, op in ops.items()]
    entries = [
        F.when(
            F.col(f"_lin_{f}").isNotNull(),
            F.struct(
                F.lit(f).alias("field"),
                *(F.col(f"_lin_{f}.{c}").alias(c) for c in _LINEAGE_ENTRY),
            ),
        )
        for f in ops
    ]
    lineage = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return [], aggs, [_KEY, "lastProcessedEventAt", lineage.alias("lineage")]


def _history_step():
    """SCD2 status intervals (:func:`status_history`) as one ``history``
    array per key: an applied status write opens an interval when it
    differs from the status before it, the stored intervals' last status
    counting as the first write. ``valid_to``/``is_current`` derive from
    the next entry at read time."""
    stored = F.col(f"{_STORED}.history")
    status = _seeded(_status_op()["v"], F.try_element_at(stored, F.lit(-1))["status"])
    w = (
        Window.partitionBy(_KEY)
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = [
        status.alias("_st"),
        F.last(status, ignorenulls=True).over(w).alias("_prev"),
    ]
    st, prev = F.col("_st"), F.col("_prev")
    opens = F.col(_STORED).isNull() & st.isNotNull() & (prev.isNull() | (prev != st))
    opened = F.struct("seq", st.alias("status"), F.col(_TS).alias("valid_from_ms"))
    aggs = [
        F.max(stored).alias("_old"),
        F.sort_array(F.collect_list(F.when(opens, opened))).alias("_new"),
    ]
    old = F.coalesce(F.col("_old"), F.array().cast(_HISTORY_TYPE))
    new = F.transform(
        "_new",
        lambda e, i: F.struct(
            (F.size(old) + i + 1).cast("long").alias("version"),
            e["status"].alias("status"),
            e["valid_from_ms"].alias("valid_from_ms"),
        ),
    )
    return pre, aggs, [_KEY, "lastProcessedEventAt", F.concat(old, new).alias("history")]


_STEPS = {"view": _view_step, "lineage": _lineage_step, "history": _history_step}


def fold_onto_stored(step: str, seen_ids_cap: int):
    """Build the incremental fold of ``step`` (one of :data:`FOLD_STEPS`):
    returns (``stored_type``, ``fold``). ``fold(events, stored)`` folds
    ``events`` (prepared, with arrival-order ``seq``) onto ``stored`` (rows
    of ``stored_type``, or None when there are none) and returns the new
    ``stored_type`` row of every key in either. ``seen_ids_cap`` bounds each
    row's ``_seen`` (CdcConfig.seen_ids_cap).

    The fold's columns are built here, once: building them takes Python
    and Py4J time that a per-micro-batch build would pay every batch."""
    stored_type = _STORED_TYPES[step]
    pre, aggs, out = _STEPS[step]()
    stored_cols = [c for c in stored_type.fieldNames() if c != SEEN_COL]
    no_ids = F.array().cast(_SEEN.dataType)
    # the seed row (pos 0, no id) and one id-only row per stored id
    ids = F.posexplode(
        F.concat(F.array(F.lit(None).cast("string")), F.coalesce(SEEN_COL, no_ids))
    )
    seed = F.col(_POS) == 0
    seeds = [
        _KEY,
        F.lit(-1).cast("long").alias("seq"),
        F.when(seed, F.col("lastProcessedEventAt")).alias(_TS),
        F.when(seed, F.struct(*stored_cols)).alias(_STORED),
        "id",
        _POS,
    ]
    # the ids folded so far, in arrival order: the stored ones, then this
    # batch's first deliveries
    seen = F.sort_array(
        F.collect_list(F.when(F.col("id").isNotNull(), F.struct("seq", _POS, "id")))
    )["id"]
    lpea = F.max(F.when(F.col(_APPLIED), F.col(_TS))).alias("lastProcessedEventAt")
    capped = F.when(
        F.size(SEEN_COL) > seen_ids_cap, F.slice(SEEN_COL, -seen_ids_cap, seen_ids_cap)
    ).otherwise(F.col(SEEN_COL))
    no_stored = F.lit(None).cast(T.StructType([stored_type[c] for c in stored_cols]))

    def fold(events: DataFrame, stored: DataFrame | None) -> DataFrame:
        if stored is None:
            rows = events.select(
                "*", no_stored.alias(_STORED), F.lit(None).cast("int").alias(_POS)
            )
        else:
            first = stored.select(*stored_cols, ids.alias(_POS, "id"))
            rows = events.unionByName(first.select(*seeds), allowMissingColumns=True)
        df = _applied(rows, _KEY)
        if pre:
            df = df.select("*", *pre)
        g = df.groupBy(F.col(_KEY).alias("transactionId")).agg(
            lpea, seen.alias(SEEN_COL), *aggs
        )
        return g.select(*out, capped.alias(SEEN_COL))

    return stored_type, fold
