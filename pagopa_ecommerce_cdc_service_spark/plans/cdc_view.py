"""Flagship query: the CDC transactions view, driver-oracle checkable.

Synthesizes a deterministic envelope event-log from the generic ``events``
table (arrival order = event_id, fold key = user/slot pair, payload fields
derived arithmetically), folds it with the real
:mod:`operators.cdc_fold` operator, and projects a flat view. The DuckDB
oracle implements the exact same guard/merge semantics in pure SQL
(prefix-running-max window + last-arriving-effective-write via
``max(struct_pack(seq, value))``), so the driver's hash compare certifies
the fold end-to-end.

The synthetic log exercises: out-of-order event times within a transaction
(event times interleave across the 3 slots of a user), ttl skips, non-insert
operationType skips, unknown event codes, null/unset payload fields, and the
polymorphic NPG/REDIRECT/UNKNOWN gateway dispatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from ..operators.cdc_fold import fold_transactions_view, prepare_events
from ..schemas import TRANSACTION_VIEW_CLASS, TRANSACTIONS_VIEW_TYPE
from .helpers import read

# index 0..18 = the 19 known codes (event_mapping order is semantic, this
# order only drives the synthetic assignment); 19..20 = unknown codes that
# must be rejected.
CODES = [
    "TRANSACTION_ACTIVATED_EVENT",
    "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT",
    "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT",
    "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT",
    "TRANSACTION_CLOSED_EVENT",
    "TRANSACTION_CLOSURE_SYNTHETIC_EVENT",
    "TRANSACTION_CLOSURE_ERROR_EVENT",
    "TRANSACTION_CLOSURE_RETRIED_EVENT",
    "TRANSACTION_EXPIRED_EVENT",
    "TRANSACTION_REFUND_REQUESTED_EVENT",
    "TRANSACTION_USER_CANCELED_EVENT",
    "TRANSACTION_CLOSURE_REQUESTED_EVENT",
    "TRANSACTION_REFUND_ERROR_EVENT",
    "TRANSACTION_USER_RECEIPT_ADDED_EVENT",
    "TRANSACTION_ADD_USER_RECEIPT_ERROR_EVENT",
    "TRANSACTION_CLOSURE_FAILED_EVENT",
    "TRANSACTION_REFUNDED_EVENT",
    "TRANSACTION_REFUND_RETRIED_EVENT",
    "TRANSACTION_ADD_USER_RECEIPT_RETRY_EVENT",
    "UNKNOWN_EVENT_A",
    "UNKNOWN_EVENT_B",
]

_STATUSES = ["ACTIVATED", "CANCELLATION_REQUESTED", "AUTHORIZATION_COMPLETED", "CLOSED"]
_CLIENTS = ["CHECKOUT", "IO", "CHECKOUT_CART"]
_KINDS = ["NPG", "REDIRECT", "UNKNOWN"]


def synthesize_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    eid = F.col("event_id")

    def pick(lst, mod_col):
        return F.element_at(F.array(*[F.lit(x) for x in lst]), (mod_col + 1).cast("int"))

    gateway_auth = F.struct(
        pick(_KINDS, eid % 3).alias("kind"),
        F.when(eid % 2 == 0, F.lit("EXECUTED")).otherwise(F.lit("DECLINED")).alias("operationResult"),
        F.when(eid % 2 == 0, F.lit("OK")).otherwise(F.lit("KO")).alias("outcome"),
        F.when(eid % 4 == 0, F.lit(None)).otherwise(F.concat(F.lit("e2e-"), eid)).alias("paymentEndToEndId"),
        F.when(eid % 2 == 0, F.lit(None)).otherwise(F.concat(F.lit("E"), F.lpad((eid % 100).cast("string"), 3, "0"))).alias("errorCode"),
    )
    closure_err = F.when(
        eid % 3 != 0,
        F.struct(
            F.concat(F.lit("5"), (eid % 2).cast("string"), F.lit("0")).alias("httpErrorCode"),
            F.lit("closure failed").alias("errorDescription"),
            F.when(eid % 2 == 0, F.lit("KO_RESPONSE_RECEIVED")).otherwise(F.lit("COMMUNICATION_ERROR")).alias("errorType"),
        ),
    )

    # array-of-structs payload set on activation (reference behavior:
    # TransactionViewUpsertService.kt:313,321). 1-or-2 notices derived from
    # the event id; every 11th activation carries an explicit NULL so the
    # SET_ALWAYS (null ≡ $unset) path over an array field stays exercised.
    def notice(i: int):
        return F.struct(
            F.concat(F.lit("pt-"), eid, F.lit(f"-{i}")).alias("paymentToken"),
            F.concat(F.lit("rpt-"), (eid % 97).cast("string")).alias("rptId"),
            F.lit(f"notice {i}").alias("description"),
            ((eid % 1000) + i).cast("long").alias("amount"),
        )

    payment_notices = (
        F.when(
            eid % 11 == 0,
            F.lit(None).cast(
                "array<struct<paymentToken:string,rptId:string,description:string,amount:bigint>>"
            ),
        )
        .when(eid % 2 == 1, F.array(notice(0), notice(1)))
        .otherwise(F.array(notice(0)))
    )

    data = F.struct(
        F.concat(F.lit("u"), F.col("user_id"), F.lit("@example.it")).alias("email"),
        payment_notices.alias("paymentNotices"),
        pick(_CLIENTS, eid % 3).alias("clientId"),
        F.when(eid % 4 == 0, F.lit(None)).otherwise(F.concat(F.lit("uid-"), F.col("user_id"))).alias("userId"),
        F.when(eid % 2 == 0, F.lit("NPG")).otherwise(F.lit("REDIRECT")).alias("paymentGateway"),
        pick(["CP", "PPAL", "BPAY"], eid % 3).alias("paymentTypeCode"),
        F.concat(F.lit("psp-"), (eid % 10).cast("string")).alias("pspId"),
        F.round(F.col("value") * 100, 0).cast("long").alias("fee"),
        F.concat(F.lit("ar-"), eid).alias("authorizationRequestId"),
        F.when(eid % 5 == 0, F.lit(None)).otherwise(F.concat(F.lit("ac-"), eid)).alias("authorizationCode"),
        F.when(eid % 6 == 0, F.lit(None)).otherwise(F.concat(F.lit("rrn-"), eid)).alias("rrn"),
        gateway_auth.alias("gatewayAuthData"),
        F.when(eid % 2 == 0, F.lit("OK")).otherwise(F.lit("KO")).alias("responseOutcome"),
        pick(_STATUSES, eid % 4).alias("statusBeforeExpiration"),
        (eid % 7 == 0).alias("wasCanceledByUser"),
        closure_err.alias("closureErrorData"),
    )

    return ev.select(
        F.concat(F.lit("ev-"), eid).alias("id"),
        F.concat(F.col("user_id").cast("string"), F.lit("-"), (eid % 3).cast("string")).alias("transactionId"),
        pick(CODES, eid % 21).alias("eventCode"),
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")).alias("creationDate"),
        eid.alias("seq"),
        F.when(eid % 41 == 0, F.lit(1).cast("long")).alias("ttl"),
        F.when(eid % 23 == 0, F.lit("delete")).otherwise(F.lit("insert")).alias("operationType"),
        data.alias("data"),
    )


# The gated view: the fold's columns in TRANSACTIONS_VIEW_TYPE order, each
# nested one flattened into scalars that hash the same from Spark→pandas and
# DuckDB→pandas (a raw array<struct> column would compare list-of-Rows vs
# ndarray-of-dicts; a null paymentNotices ⇒ all three of its scalars null).
# The columns are built per call: column expressions need an active session.
_FLATTENED = {
    "paymentNotices": {
        "paymentNoticesCount": lambda: F.when(
            F.col("paymentNotices").isNotNull(), F.size("paymentNotices")
        ),
        "paymentNoticesTotal": lambda: F.expr(
            "aggregate(paymentNotices, CAST(0 AS BIGINT), (acc, x) -> acc + x.amount)"
        ),
        "firstPaymentToken": lambda: F.when(
            F.col("paymentNotices").isNotNull(),
            F.element_at("paymentNotices", 1)["paymentToken"],
        ),
    },
    "closureErrorData": {
        "closureHttpErrorCode": lambda: F.col("closureErrorData.httpErrorCode"),
    },
}
_VIEW_COLS = tuple(
    c for f in TRANSACTIONS_VIEW_TYPE.fieldNames() for c in _FLATTENED.get(f, (f,))
)


def _gate_view(view: DataFrame) -> DataFrame:
    """A fold's view projected to the gated columns, :data:`_VIEW_COLS`."""
    flat = {c: make for cols in _FLATTENED.values() for c, make in cols.items()}
    return view.select(*(flat[c]().alias(c) if c in flat else c for c in _VIEW_COLS))


def cdc_transactions_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthesize_envelope(spark, sf_dir)
    return _gate_view(fold_transactions_view(prepare_events(env)))


# ---------------------------------------------------------------------------
# DuckDB oracle: identical envelope synthesis + fold semantics in pure SQL.
# ---------------------------------------------------------------------------

_CODE_CASE = "CASE event_id % 21 " + " ".join(
    f"WHEN {i} THEN '{c}'" for i, c in enumerate(CODES)
) + " END"

_KNOWN_LIST = ", ".join(f"'{c}'" for c in CODES[:19])

# per-field fold: value of the last-arriving effective write
def _fold(cond: str, value: str, alias: str) -> str:
    return (
        f"(max(CASE WHEN {cond} THEN struct_pack(s := seq, v := {value}) END)).v AS {alias}"
    )


_ACT = "code = 'TRANSACTION_ACTIVATED_EVENT'"
_AUTHREQ = "code = 'TRANSACTION_AUTHORIZATION_REQUESTED_EVENT'"
_AUTHCMP = "code = 'TRANSACTION_AUTHORIZATION_COMPLETED_EVENT'"

ORACLE_SQL = f"""
WITH env AS (
  SELECT
    event_id AS seq,
    CAST(user_id AS VARCHAR) || '-' || CAST(event_id % 3 AS VARCHAR) AS tx,
    epoch_ms(ts) AS ts_ms,
    strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS creation_iso,
    {_CODE_CASE} AS code,
    CASE WHEN event_id % 41 = 0 THEN 1 END AS ttl,
    CASE WHEN event_id % 23 = 0 THEN 'delete' ELSE 'insert' END AS op,
    'u' || CAST(user_id AS VARCHAR) || '@example.it' AS email,
    CASE event_id % 3 WHEN 0 THEN 'CHECKOUT' WHEN 1 THEN 'IO' ELSE 'CHECKOUT_CART' END AS clientId,
    CASE WHEN event_id % 4 = 0 THEN NULL ELSE 'uid-' || CAST(user_id AS VARCHAR) END AS userId,
    CASE WHEN event_id % 2 = 0 THEN 'NPG' ELSE 'REDIRECT' END AS paymentGateway,
    CASE event_id % 3 WHEN 0 THEN 'CP' WHEN 1 THEN 'PPAL' ELSE 'BPAY' END AS paymentTypeCode,
    'psp-' || CAST(event_id % 10 AS VARCHAR) AS pspId,
    CAST(round(value * 100, 0) AS BIGINT) AS fee,
    'ar-' || CAST(event_id AS VARCHAR) AS authorizationRequestId,
    CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'ac-' || CAST(event_id AS VARCHAR) END AS authorizationCode,
    CASE WHEN event_id % 6 = 0 THEN NULL ELSE 'rrn-' || CAST(event_id AS VARCHAR) END AS rrn,
    CASE event_id % 3 WHEN 0 THEN 'NPG' WHEN 1 THEN 'REDIRECT' ELSE 'UNKNOWN' END AS ga_kind,
    CASE WHEN event_id % 2 = 0 THEN 'EXECUTED' ELSE 'DECLINED' END AS ga_opresult,
    CASE WHEN event_id % 2 = 0 THEN 'OK' ELSE 'KO' END AS ga_outcome,
    CASE WHEN event_id % 4 = 0 THEN NULL ELSE 'e2e-' || CAST(event_id AS VARCHAR) END AS ga_e2e,
    CASE WHEN event_id % 2 = 0 THEN NULL ELSE 'E' || lpad(CAST(event_id % 100 AS VARCHAR), 3, '0') END AS ga_errcode,
    CASE WHEN event_id % 2 = 0 THEN 'OK' ELSE 'KO' END AS responseOutcome,
    CASE event_id % 4 WHEN 0 THEN 'ACTIVATED' WHEN 1 THEN 'CANCELLATION_REQUESTED'
                      WHEN 2 THEN 'AUTHORIZATION_COMPLETED' ELSE 'CLOSED' END AS statusBeforeExpiration,
    (event_id % 7 = 0) AS wasCanceledByUser,
    CASE WHEN event_id % 3 <> 0 THEN '5' || CAST(event_id % 2 AS VARCHAR) || '0' END AS closure_http,
    (event_id % 3 <> 0) AS closure_present
  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) events
),
valid AS (
  SELECT * FROM env
  WHERE op = 'insert' AND ttl IS NULL AND code IN ({_KNOWN_LIST})
),
guarded AS (
  SELECT *,
    max(ts_ms) OVER (PARTITION BY tx ORDER BY seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix_max
  FROM valid
),
applied_events AS (
  SELECT *,
    (prefix_max IS NULL OR ts_ms > prefix_max) AS applied,
    CASE code
      WHEN 'TRANSACTION_ACTIVATED_EVENT' THEN 'ACTIVATED'
      WHEN 'TRANSACTION_AUTHORIZATION_REQUESTED_EVENT' THEN 'AUTHORIZATION_REQUESTED'
      WHEN 'TRANSACTION_AUTHORIZATION_COMPLETED_EVENT' THEN 'AUTHORIZATION_COMPLETED'
      WHEN 'TRANSACTION_USER_RECEIPT_REQUESTED_EVENT' THEN 'NOTIFICATION_REQUESTED'
      WHEN 'TRANSACTION_CLOSED_EVENT' THEN
        CASE WHEN wasCanceledByUser THEN 'CANCELED'
             WHEN responseOutcome = 'OK' THEN 'CLOSED'
             WHEN responseOutcome = 'KO' THEN 'UNAUTHORIZED' END
      WHEN 'TRANSACTION_CLOSURE_SYNTHETIC_EVENT' THEN 'CLOSED'
      WHEN 'TRANSACTION_CLOSURE_ERROR_EVENT' THEN 'CLOSURE_ERROR'
      WHEN 'TRANSACTION_EXPIRED_EVENT' THEN
        CASE statusBeforeExpiration
          WHEN 'ACTIVATED' THEN 'EXPIRED_NOT_AUTHORIZED'
          WHEN 'CANCELLATION_REQUESTED' THEN 'CANCELLATION_EXPIRED'
          ELSE 'EXPIRED' END
      WHEN 'TRANSACTION_REFUND_REQUESTED_EVENT' THEN 'REFUND_REQUESTED'
      WHEN 'TRANSACTION_USER_CANCELED_EVENT' THEN 'CANCELLATION_REQUESTED'
      WHEN 'TRANSACTION_CLOSURE_REQUESTED_EVENT' THEN 'CLOSURE_REQUESTED'
      WHEN 'TRANSACTION_REFUND_ERROR_EVENT' THEN 'REFUND_ERROR'
      WHEN 'TRANSACTION_USER_RECEIPT_ADDED_EVENT' THEN
        CASE responseOutcome WHEN 'OK' THEN 'NOTIFIED_OK' WHEN 'KO' THEN 'NOTIFIED_KO' END
      WHEN 'TRANSACTION_ADD_USER_RECEIPT_ERROR_EVENT' THEN 'NOTIFICATION_ERROR'
      WHEN 'TRANSACTION_CLOSURE_FAILED_EVENT' THEN 'UNAUTHORIZED'
      WHEN 'TRANSACTION_REFUNDED_EVENT' THEN 'REFUNDED'
    END AS status_val
  FROM guarded
)
SELECT
  tx AS transactionId,
  {_fold(_ACT, "email", "email")},
  {_fold(_ACT,
         "CASE WHEN seq % 11 = 0 THEN NULL ELSE CAST(seq % 2 + 1 AS INTEGER) END",
         "paymentNoticesCount")},
  {_fold(_ACT,
         "CASE WHEN seq % 11 = 0 THEN NULL "
         "WHEN seq % 2 = 0 THEN seq % 1000 "
         "ELSE 2 * (seq % 1000) + 1 END",
         "paymentNoticesTotal")},
  {_fold(_ACT,
         "CASE WHEN seq % 11 = 0 THEN NULL "
         "ELSE 'pt-' || CAST(seq AS VARCHAR) || '-0' END",
         "firstPaymentToken")},
  {_fold(_ACT, "clientId", "clientId")},
  {_fold(_ACT, "creation_iso", "creationDate")},
  {_fold(_ACT + " AND userId IS NOT NULL", "userId", "userId")},
  (max(CASE WHEN applied AND status_val IS NOT NULL
            THEN struct_pack(s := seq, v := status_val) END)).v AS status,
  max(CASE WHEN applied THEN ts_ms END) AS lastProcessedEventAt,
  {_fold(_AUTHREQ, "paymentGateway", "paymentGateway")},
  {_fold(_AUTHREQ, "paymentTypeCode", "paymentTypeCode")},
  {_fold(_AUTHREQ, "pspId", "pspId")},
  {_fold(_AUTHREQ, "fee", "feeTotal")},
  {_fold(_AUTHREQ, "authorizationRequestId", "authorizationRequestId")},
  {_fold(_AUTHCMP, "authorizationCode", "authorizationCode")},
  {_fold(_AUTHCMP, "rrn", "rrn")},
  {_fold(_AUTHCMP + " AND ga_kind IN ('NPG','REDIRECT')",
         "CASE ga_kind WHEN 'NPG' THEN ga_opresult ELSE ga_outcome END",
         "gatewayAuthorizationStatus")},
  {_fold(_AUTHCMP + " AND ga_kind = 'NPG' AND ga_e2e IS NOT NULL", "ga_e2e", "endToEndId")},
  {_fold(_AUTHCMP + " AND ga_kind IN ('NPG','REDIRECT')", "ga_errcode", "authorizationErrorCode")},
  (max(CASE
     WHEN code = 'TRANSACTION_USER_RECEIPT_REQUESTED_EVENT'
       THEN struct_pack(s := seq, v := responseOutcome)
     WHEN code IN ('TRANSACTION_CLOSED_EVENT','TRANSACTION_CLOSURE_SYNTHETIC_EVENT',
                   'TRANSACTION_CLOSURE_ERROR_EVENT','TRANSACTION_CLOSURE_RETRIED_EVENT')
          AND applied
       THEN struct_pack(s := seq, v := 'NOT_RECEIVED')
   END)).v AS sendPaymentResultOutcome,
  (max(CASE
     WHEN code IN ('TRANSACTION_CLOSED_EVENT','TRANSACTION_CLOSURE_SYNTHETIC_EVENT')
       THEN struct_pack(s := seq, v := CAST(NULL AS VARCHAR))
     WHEN code = 'TRANSACTION_CLOSURE_ERROR_EVENT' AND applied
       THEN struct_pack(s := seq, v := closure_http)
     WHEN code = 'TRANSACTION_CLOSURE_RETRIED_EVENT' AND applied AND closure_present
       THEN struct_pack(s := seq, v := closure_http)
   END)).v AS closureHttpErrorCode,
  '{TRANSACTION_VIEW_CLASS}' AS _class
FROM applied_events
GROUP BY tx
"""

QUERIES = {"cdc_transactions_view": cdc_transactions_view}
ORACLES = {"cdc_transactions_view": ORACLE_SQL}


# ---------------------------------------------------------------------------
# Streaming twin under the driver gate: the SAME synthetic envelope (bounded
# to the first 3000 events for gate latency) is replayed through the real
# production pipeline — file readStream → prepare_events → foreachBatch
# bucketed parquet upsert sink, which folds each micro-batch onto the
# stored rows it touches — as TWO drains that share one checkpoint
# (_restart_gate): the first folds the first half of the log and stops; the
# second recovers the file log from the checkpoint and the fold state from
# the view, and folds only the files that "arrived" while no query ran. The
# maintained view on disk must then hash-match the pure-SQL oracle of the
# batch fold: batch ≡ streaming-with-restart-and-upsert-sink ≡ SQL (S1-S5 +
# fold + ST2 under one hard gate).
# ---------------------------------------------------------------------------
_STREAM_LIMIT = 3000
# the events source every fold oracle scans; the stream window and the
# change feed's cutoff are spliced into it
_CF_EVENTS_SRC = (
    "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value "
    "FROM events) events"
)


def _stream_window(sql: str) -> str:
    """A fold oracle cut to the stream window (``event_id < _STREAM_LIMIT``)."""
    assert sql.count(_CF_EVENTS_SRC) == 1, "stream-window splice target moved"
    return sql.replace(
        _CF_EVENTS_SRC,
        _CF_EVENTS_SRC[:-8] + f" WHERE event_id < {_STREAM_LIMIT}) events",
    )


def _restart_gate(
    spark: SparkSession, sf_dir: str, prefix: str, fold: str
) -> DataFrame:
    """Replay the stream window of the synthetic log into the upsert sink
    that maintains ``fold`` (a ``parquet_upsert_sink`` fold step), as two
    drains on ONE checkpoint: the first folds half A of the log; half B
    "arrives" while no query runs, and the second recovers the file log
    and folds only half B onto the table. Returns the maintained table."""
    from ..streaming.pipeline import (
        drain,
        parquet_upsert_sink,
        read_event_stream,
        read_view,
        stream_transactions_view,
    )
    from .helpers import gate_workdir, write_single_file

    env = synthesize_envelope(spark, sf_dir).filter(F.col("seq") < _STREAM_LIMIT)
    workdir = gate_workdir(prefix)
    src, view_dir, ckpt = f"{workdir}/events", f"{workdir}/view", f"{workdir}/ckpt"
    seq, cut = F.col("seq"), _STREAM_LIMIT // 2
    # one json file → one micro-batch per drain
    for half, rows in (("a", env.filter(seq < cut)), ("b", env.filter(seq >= cut))):
        write_single_file(rows, f"{src}/half-{half}.json")
        # few hundred keys at gate scale: 8 buckets keeps each merge's
        # old-state read to a few touched buckets
        drain(
            stream_transactions_view(read_event_stream(spark, src))
            .writeStream.outputMode("update")
            .foreachBatch(parquet_upsert_sink(view_dir, n_buckets=8, fold=fold)),
            ckpt,
            f"{prefix}half-{half}",
        )
    return read_view(spark, view_dir)


def cdc_stream_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gate_view(_restart_gate(spark, sf_dir, "cdc-stream-gate-", "view"))


_STREAM_ORACLE_SQL = _stream_window(ORACLE_SQL)

QUERIES["cdc_stream_incremental_view"] = cdc_stream_incremental_view
ORACLES["cdc_stream_incremental_view"] = _STREAM_ORACLE_SQL


# ---------------------------------------------------------------------------
# T1/ST6 under the driver gate: tolerant envelope parsing with quarantine.
# A deterministic JSON-lines corpus is synthesized with three defect classes
# (truncated JSON, null id, null transactionId) and pushed through the real
# parse_envelope_lines (from_json PERMISSIVE + corrupt-record filter,
# EcommerceTransactionsLogEventsStream.kt:122-135). The oracle reproduces
# the classification by construction and must agree on every aggregate,
# including the exact byte length of the quarantined raw lines.
# ---------------------------------------------------------------------------


def _envelope_line() -> F.Column:
    """One deterministic JSON line per event row (explicit concat, not
    to_json, so both engines know the exact text)."""
    eid = F.col("event_id")
    iso = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z"))
    full = F.concat(
        F.lit('{"id":"ev-'), eid,
        F.lit('","transactionId":"tx-'), F.col("user_id"),
        F.lit('","eventCode":"TRANSACTION_ACTIVATED_EVENT","creationDate":"'),
        iso,
        F.lit('","seq":'), eid,
        F.lit(',"operationType":"insert","data":{"email":"u'),
        F.col("user_id"),
        F.lit('@example.it"}}'),
    )
    null_id = F.concat(
        F.lit('{"id":null,"transactionId":"tx-'), F.col("user_id"),
        F.lit('","eventCode":"TRANSACTION_ACTIVATED_EVENT","seq":'), eid,
        F.lit("}"),
    )
    null_tx = F.concat(
        F.lit('{"id":"ev-'), eid,
        F.lit('","transactionId":null,"eventCode":"TRANSACTION_ACTIVATED_EVENT","seq":'),
        eid,
        F.lit("}"),
    )
    return (
        F.when(eid % 7 == 0, F.substring(full, 1, 25))  # truncated ⇒ invalid JSON
        .when(eid % 7 == 1, null_id)
        .when(eid % 7 == 2, null_tx)
        .otherwise(full)
    )


def cdc_envelope_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.envelope_json import parse_envelope_lines

    ev = read(spark, sf_dir, "events")
    lines = ev.select(_envelope_line().alias("value"))
    good, quarantine = parse_envelope_lines(lines)
    g = good.agg(
        F.count("*").alias("n_good"),
        F.sum("seq").alias("good_seq_sum"),
    )
    q = quarantine.agg(
        F.count("*").alias("n_quarantined"),
        F.sum(F.length("raw_record")).alias("quarantined_chars"),
    )
    return g.crossJoin(q)


QUERIES["cdc_envelope_quarantine"] = cdc_envelope_quarantine
ORACLES["cdc_envelope_quarantine"] = """
WITH lines AS (
  SELECT event_id AS eid,
    '{"id":"ev-' || CAST(event_id AS VARCHAR)
      || '","transactionId":"tx-' || CAST(user_id AS VARCHAR)
      || '","eventCode":"TRANSACTION_ACTIVATED_EVENT","creationDate":"'
      || strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
      || '","seq":' || CAST(event_id AS VARCHAR)
      || ',"operationType":"insert","data":{"email":"u'
      || CAST(user_id AS VARCHAR) || '@example.it"}}' AS full_line,
    '{"id":null,"transactionId":"tx-' || CAST(user_id AS VARCHAR)
      || '","eventCode":"TRANSACTION_ACTIVATED_EVENT","seq":'
      || CAST(event_id AS VARCHAR) || '}' AS null_id_line,
    '{"id":"ev-' || CAST(event_id AS VARCHAR)
      || '","transactionId":null,"eventCode":"TRANSACTION_ACTIVATED_EVENT","seq":'
      || CAST(event_id AS VARCHAR) || '}' AS null_tx_line
  FROM events
),
classified AS (
  SELECT eid,
    CASE
      WHEN eid % 7 = 0 THEN substring(full_line, 1, 25)
      WHEN eid % 7 = 1 THEN null_id_line
      WHEN eid % 7 = 2 THEN null_tx_line
      ELSE full_line
    END AS line,
    (eid % 7 NOT IN (0, 1, 2)) AS is_good
  FROM lines
)
SELECT
  (SELECT COUNT(*) FROM classified WHERE is_good) AS n_good,
  (SELECT CAST(SUM(eid) AS BIGINT) FROM classified WHERE is_good) AS good_seq_sum,
  (SELECT COUNT(*) FROM classified WHERE NOT is_good) AS n_quarantined,
  (SELECT CAST(SUM(length(line)) AS BIGINT) FROM classified
   WHERE NOT is_good) AS quarantined_chars
"""


# ---------------------------------------------------------------------------
# CDC CHANGE FEED: the row-level delta between the fold state at a log
# cutoff (first ~4% of the envelope log by seq — early enough that new
# keys still arrive after it, so both insert and update classes carry
# rows) and at the full log — the
# change-data-feed surface a downstream consumer of the view would
# subscribe to (Delta CDF / Debezium-shaped: insert / update / delete
# classification per key). Both states come from the SAME fold plan
# (plan-level reuse of every fold rule), diffed by a FULL OUTER join on the
# key with whole-row md5 comparison; deletes are structurally impossible
# here (the fold ignores 'delete' ops — reference parity, F1) and the
# query proves it by construction: the count lands in the gated output.
# Scale: the diff joins two folds of the same log partitioned identically
# on transactionId — co-partitioned SMJ, no extra wide shuffle; row hashes
# are computed pre-join so the compare moves (key, hash) pairs only.
# ---------------------------------------------------------------------------
_CF_NULL = "<NULL>"
_CF_SEP = "|~|"
_CF_MOD = 1000000007

_CF_CUT_SQL = (
    "(SELECT CAST(FLOOR((MAX(event_id) * 2.0) / 50.0) AS BIGINT) FROM events)"
)
_CF_EVENTS_SRC_CUT = _CF_EVENTS_SRC[:-8] + f" WHERE event_id <= {_CF_CUT_SQL}) events"


def _cf_rowhash_sql(alias: str) -> str:
    cols = ", ".join(
        f"COALESCE(CAST({alias}.{c} AS VARCHAR), '{_CF_NULL}')" for c in _VIEW_COLS
    )
    return md5_long_sql(f"concat_ws('{_CF_SEP}', {cols})")


# guard the string surgery: if ORACLE_SQL's events source is ever
# reworded, fail at import instead of silently diffing v1 against itself
assert _CF_EVENTS_SRC in ORACLE_SQL, "change-feed cutoff injection target moved"
assert _CF_EVENTS_SRC_CUT.endswith(") events") and _CF_CUT_SQL in _CF_EVENTS_SRC_CUT

CHANGE_FEED_ORACLE_SQL = f"""
WITH v1 AS ({ORACLE_SQL}),
v0 AS ({ORACLE_SQL.replace(_CF_EVENTS_SRC, _CF_EVENTS_SRC_CUT)}),
h1 AS (SELECT transactionId, {_cf_rowhash_sql("v1")} AS h FROM v1),
h0 AS (SELECT transactionId, {_cf_rowhash_sql("v0")} AS h FROM v0),
delta AS (
  SELECT COALESCE(h1.transactionId, h0.transactionId) AS tid,
         CASE WHEN h0.transactionId IS NULL THEN 'insert'
              WHEN h1.transactionId IS NULL THEN 'delete'
              ELSE 'update' END AS change_type,
         COALESCE(h1.h, h0.h) AS h
  FROM h1 FULL OUTER JOIN h0 ON h1.transactionId = h0.transactionId
  WHERE h0.transactionId IS NULL OR h1.transactionId IS NULL OR h1.h <> h0.h
)
SELECT change_type, COUNT(*) AS n_rows,
       CAST(SUM(h % {_CF_MOD}) AS BIGINT) AS checksum
FROM delta GROUP BY change_type
"""


def _cf_rowhash(df: DataFrame) -> DataFrame:
    from ..functions.hashing import md5_long as _md5l
    from pyspark.sql import types as T

    # cross-engine hash precondition: CAST AS STRING must render identically
    # in Spark and DuckDB, which holds for strings/ints/timestamps but NOT
    # floating point (Spark emits scientific notation, DuckDB does not) —
    # fail at plan build, not with a silent hash mismatch at the gate
    floaty = [
        f.name
        for f in df.schema.fields
        if f.name in _VIEW_COLS
        and isinstance(f.dataType, (T.DoubleType, T.FloatType))
    ]
    assert not floaty, (
        f"change-feed row hash is not engine-portable for float columns "
        f"{floaty}: normalize to DECIMAL/text before hashing"
    )
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_CF_NULL)) for c in _VIEW_COLS
    ]
    return df.select(
        "transactionId", _md5l(F.concat_ws(_CF_SEP, *parts)).alias("h")
    )



def _v0_envelope(env: DataFrame) -> DataFrame:
    """The v0 snapshot slice of the envelope log (first ~4% by seq) — the
    Spark-side twin of ``_CF_CUT_SQL``, shared by the change feed and the
    incremental-aggregate maintenance so the cutoff definition lives in
    one place on each engine."""
    cut = env.agg(
        F.floor((F.max("seq") * F.lit(2.0)) / F.lit(50.0)).cast("long").alias("cut")
    )
    return env.crossJoin(F.broadcast(cut)).filter(F.col("seq") <= F.col("cut")).drop(
        "cut"
    )


def cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthesize_envelope(spark, sf_dir)
    env0 = _v0_envelope(env)

    def view(e):
        return _gate_view(fold_transactions_view(prepare_events(e)))

    h1 = _cf_rowhash(view(env)).withColumnRenamed("h", "h1")
    h0 = (
        _cf_rowhash(view(env0))
        .withColumnRenamed("h", "h0")
        .withColumnRenamed("transactionId", "tid0")
    )
    delta = (
        h1.join(h0, h1["transactionId"] == h0["tid0"], "full_outer")
        .filter(
            F.col("tid0").isNull()
            | F.col("transactionId").isNull()
            | (F.col("h1") != F.col("h0"))
        )
        .select(
            F.when(F.col("tid0").isNull(), F.lit("insert"))
            .when(F.col("transactionId").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.coalesce(F.col("h1"), F.col("h0")).alias("h"),
        )
    )
    return delta.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("h") % F.lit(_CF_MOD)).cast("long").alias("checksum"),
    )


QUERIES["cdc_change_feed"] = cdc_change_feed
ORACLES["cdc_change_feed"] = CHANGE_FEED_ORACLE_SQL


# ---------------------------------------------------------------------------
# INCREMENTAL MATERIALIZED-AGGREGATE MAINTENANCE from the change feed — the
# downstream pattern the reference's CDC view exists to feed: a consumer
# keeps a per-status count dashboard live by applying row-level deltas
# instead of re-scanning the view. The query proves the algebra inside the
# gate: counts maintained as (base at the v0 snapshot) + (retract old
# status / assert new status deltas for every changed key) must equal the
# direct recompute on v1, status for status — both sides land in the gated
# output so the value hash certifies the equivalence. Deletes retract
# without asserting (structurally absent here — the fold ignores delete
# ops, reference F1); inserts assert without retracting.
# Scale shape: the delta join touches only (transactionId, status) pairs —
# narrow rows, co-partitioned from the SAME fold plan on both sides (one
# exchange reused, as in cdc_change_feed); the retract/assert explosion and
# both aggregates are map-side-combinable; at production scale base comes
# from the stored aggregate, not a recompute, so maintenance cost is
# O(changed keys), never O(view).
# ---------------------------------------------------------------------------
CDC_INCR_AGG_ORACLE_SQL = f"""
WITH v1 AS ({ORACLE_SQL}),
v0 AS ({ORACLE_SQL.replace(_CF_EVENTS_SRC, _CF_EVENTS_SRC_CUT)}),
-- a freshly-activated key can hold a NULL status until its first
-- status-bearing event arrives; fold it into a sentinel group so
-- NULL -> X transitions retract correctly (<> and GROUP BY would both
-- silently drop the NULL group otherwise)
s1 AS (SELECT transactionId, COALESCE(status, '{_CF_NULL}') AS status FROM v1),
s0 AS (SELECT transactionId, COALESCE(status, '{_CF_NULL}') AS status FROM v0),
base AS (SELECT status, COUNT(*) AS n FROM s0 GROUP BY status),
changed AS (
  SELECT s0.status AS st0, s1.status AS st1
  FROM s1 FULL OUTER JOIN s0 ON s1.transactionId = s0.transactionId
  WHERE s0.transactionId IS NULL OR s1.transactionId IS NULL
     OR s0.status <> s1.status
),
delta AS (
  SELECT st0 AS status, -1 AS dn FROM changed WHERE st0 IS NOT NULL
  UNION ALL
  SELECT st1 AS status, 1 AS dn FROM changed WHERE st1 IS NOT NULL
),
agg_delta AS (SELECT status, CAST(SUM(dn) AS BIGINT) AS dn FROM delta GROUP BY status),
recomputed AS (SELECT status, COUNT(*) AS n FROM s1 GROUP BY status)
SELECT COALESCE(r.status, b.status, ad.status) AS status,
       COALESCE(b.n, 0) AS n_base,
       COALESCE(ad.dn, 0) AS n_delta,
       COALESCE(b.n, 0) + COALESCE(ad.dn, 0) AS n_maintained,
       COALESCE(r.n, 0) AS n_recomputed
FROM recomputed r
FULL OUTER JOIN base b ON b.status = r.status
FULL OUTER JOIN agg_delta ad ON ad.status = COALESCE(r.status, b.status)
"""


def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthesize_envelope(spark, sf_dir)
    env0 = _v0_envelope(env)

    def statuses(e: DataFrame) -> DataFrame:
        # sentinel for the pre-first-status NULL group (mirrors the oracle):
        # keeps NULL -> X transitions retractable and the group aggregable
        return fold_transactions_view(prepare_events(e)).select(
            "transactionId",
            F.coalesce(F.col("status"), F.lit(_CF_NULL)).alias("status"),
        )

    s1 = statuses(env).withColumnsRenamed({"transactionId": "tid1", "status": "st1"})
    s0 = statuses(env0).withColumnsRenamed({"transactionId": "tid0", "status": "st0"})
    base = s0.groupBy(F.col("st0").alias("status")).agg(F.count("*").alias("n_b"))
    changed = (
        s1.join(s0, s1["tid1"] == s0["tid0"], "full_outer")
        .filter(
            F.col("tid0").isNull()
            | F.col("tid1").isNull()
            | (F.col("st0") != F.col("st1"))
        )
        .select("st0", "st1")
    )
    # retract the old status, assert the new one — one row each way
    delta = changed.select(
        F.explode(
            F.array(
                F.struct(F.col("st0").alias("status"), F.lit(-1).alias("dn")),
                F.struct(F.col("st1").alias("status"), F.lit(1).alias("dn")),
            )
        ).alias("x")
    ).select("x.status", "x.dn").filter(F.col("status").isNotNull())
    agg_delta = delta.groupBy("status").agg(F.sum("dn").cast("long").alias("dn"))
    recomputed = s1.groupBy(F.col("st1").alias("status")).agg(
        F.count("*").alias("n_r")
    )
    out = (
        recomputed.join(base, "status", "full_outer")
        .join(agg_delta, "status", "full_outer")
    )
    return out.select(
        "status",
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_base"),
        F.coalesce(F.col("dn"), F.lit(0)).cast("long").alias("n_delta"),
        (F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n_maintained"),
        F.coalesce(F.col("n_r"), F.lit(0)).cast("long").alias("n_recomputed"),
    )


QUERIES["cdc_incremental_agg"] = cdc_incremental_agg
ORACLES["cdc_incremental_agg"] = CDC_INCR_AGG_ORACLE_SQL


# ---------------------------------------------------------------------------
# ST8 under the hard gate: the per-event span table
# (streaming/tracing.py, twin of ViewUpdateTracingUtils.kt:23-37). One span
# row per processed event of the synthesized envelope, column names = the
# reference's OTel attribute keys; the oracle reproduces the intake filter
# (operationType/ttl/known-code — the same `valid` CTE as the fold oracle)
# and the attribute projection. Map-only on the Spark side: no shuffle at
# any scale.
# ---------------------------------------------------------------------------


def cdc_event_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc_fold import prepare_events
    from ..streaming.tracing import event_spans

    env = synthesize_envelope(spark, sf_dir)
    return event_spans(prepare_events(env))


CDC_EVENT_SPANS_ORACLE_SQL = f"""
WITH env AS (
  SELECT
    event_id AS seq,
    CAST(user_id AS VARCHAR) || '-' || CAST(event_id % 3 AS VARCHAR) AS tx,
    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS creation_iso,
    {_CODE_CASE} AS code,
    CASE WHEN event_id % 41 = 0 THEN 1 END AS ttl,
    CASE WHEN event_id % 23 = 0 THEN 'delete' ELSE 'insert' END AS op
  FROM events
)
SELECT
  'eventstoreCDCEvent' AS span_name,
  code AS "ecommerce.cdc.processedEvent.eventCode",
  tx AS "ecommerce.cdc.processedEvent.transactionId",
  creation_iso AS "ecommerce.cdc.processedEvent.eventCreationDate",
  'OK' AS "ecommerce.cdc.processedEvent.outcome"
FROM env
WHERE op = 'insert' AND ttl IS NULL AND code IN ({_KNOWN_LIST})
"""

QUERIES["cdc_event_spans"] = cdc_event_spans
ORACLES["cdc_event_spans"] = CDC_EVENT_SPANS_ORACLE_SQL


# ---------------------------------------------------------------------------
# Point-in-time (as-of) snapshot of the transactions view: the SAME 19-way
# fold applied to only the envelope events with creationDate ≤ a fixed
# cutoff — "what did the view hold at T?" (the batch twin of the sink's
# manifest time travel, which replays generations instead of events).
# Transactions whose first event arrives after the cutoff are absent, and
# every fold field (status guard, last-effective-write enrich, _class
# upsert-if-absent) is computed as if the log ended at T. Scale shape is
# identical to cdc_transactions_view: the time filter is a pushdown-able
# predicate on the prepared envelope, then ONE transactionId exchange
# carries dedup + guard + 20-field fold.
# Reference: the event-sourced fold this twins is
# TransactionViewUpsertService.kt:69-189; as-of is the natural analytic
# extension of its last-processed-event bookkeeping.
# ---------------------------------------------------------------------------
_ASOF_MS = 1705363200000  # 2024-01-16T00:00:00Z — mid-range at every SF


def cdc_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthesize_envelope(spark, sf_dir)
    prepared = prepare_events(env).filter(F.col("_ts_millis") <= _ASOF_MS)
    return _gate_view(fold_transactions_view(prepared))


# oracle: the batch-fold oracle with the cutoff added to the `valid` CTE —
# the single semantic delta between snapshot-at-T and the full fold. The
# anchor must appear exactly once; the assert keeps the splice honest if
# ORACLE_SQL is ever reworked.
_ASOF_ANCHOR = "WHERE op = 'insert' AND ttl IS NULL AND code IN"


def _asof_spliced(ms: int) -> str:
    assert ORACLE_SQL.count(_ASOF_ANCHOR) == 1
    return ORACLE_SQL.replace(
        _ASOF_ANCHOR,
        f"WHERE ts_ms <= {ms} AND op = 'insert' AND ttl IS NULL AND code IN",
    )


ASOF_ORACLE_SQL = _asof_spliced(_ASOF_MS)

QUERIES["cdc_asof_snapshot"] = cdc_asof_snapshot
ORACLES["cdc_asof_snapshot"] = ASOF_ORACLE_SQL


# ---------------------------------------------------------------------------
# Custom PYTHON DATA SOURCE under the hard gate: the same deterministic
# envelope lines replay through `sources/pyds.py` — a Spark 4
# `pyspark.sql.datasource` connector with tolerant per-record parse,
# operationType/eventCode filter pushdown, and a file-index-offset
# SimpleDataSourceStreamReader — as TWO availableNow runs sharing one
# checkpoint (each run drains the reader's prefetched batch; the second
# resumes from the committed offset, so the gate certifies initialOffset /
# read / commit recovery, not just parsing). The drained parquet output
# must aggregate to the SAME DuckDB oracle as cdc_envelope_quarantine:
# connector parse ≡ from_json PERMISSIVE parse ≡ SQL.
# Reference: the source this twins is the change-stream connector
# (EcommerceTransactionsLogEventsStream.kt:74-94) with its per-record
# drop-and-log tolerance (:122-135).
# ---------------------------------------------------------------------------
def cdc_pyds_envelope_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds
    from ..streaming.pipeline import drain
    from .helpers import gate_workdir, write_single_file

    pyds.register(spark)
    ev = read(spark, sf_dir, "events")
    lines = ev.select(_envelope_line().alias("value"), F.col("event_id"))
    workdir = gate_workdir("pyds-envelope-gate-")
    src = f"{workdir}/src"
    out = f"{workdir}/out"
    ckpt = f"{workdir}/ckpt"
    write_single_file(
        lines.filter(F.col("event_id") % 2 == 0).select("value"),
        f"{src}/half0.jsonl",
        fmt="text",
    )
    write_single_file(
        lines.filter(F.col("event_id") % 2 == 1).select("value"),
        f"{src}/half1.jsonl",
        fmt="text",
    )

    def drain_once() -> None:
        drain(
            spark.readStream.format(pyds.SOURCE_NAME)
            .option("path", src)
            .option("maxFilesPerBatch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
            ckpt,
            "cdc_pyds_envelope_feed",
        )

    # run 1 drains the prefetched first file; run 2 RESUMES from the
    # committed {"pos": 1} offset and drains the second — two files, two
    # query incarnations, one checkpoint
    drain_once()
    drain_once()

    rows = spark.read.parquet(out)
    good = rows.filter(F.col("_corrupt").isNull())
    quar = rows.filter(F.col("_corrupt").isNotNull())
    g = good.agg(
        F.count("*").alias("n_good"),
        F.sum("seq").alias("good_seq_sum"),
    )
    q = quar.agg(
        F.count("*").alias("n_quarantined"),
        F.sum(F.length("_corrupt")).alias("quarantined_chars"),
    )
    return g.crossJoin(q)


QUERIES["cdc_pyds_envelope_feed"] = cdc_pyds_envelope_feed
ORACLES["cdc_pyds_envelope_feed"] = ORACLES["cdc_envelope_quarantine"]


# ---------------------------------------------------------------------------
# snapshot DIFF between two as-of timestamps: which transactions appeared
# and which changed (status / lastProcessedEventAt / feeTotal) between T1
# and T2 — the audit table a migration or reconciliation job produces.
# 'removed' cannot occur (the fold is append-only); 'changed' uses
# null-safe comparison so a field transitioning to/from NULL counts. Both
# snapshots are the same single-exchange fold over one shared scan with
# only the cutoff differing; at production scale the INCREMENTAL path for
# this table is cdc_change_feed — this query is its batch audit twin, and
# the pair certifies the same semantics from two directions. Oracle: the
# batch-fold oracle spliced at the valid-CTE cutoff, twice.
# ---------------------------------------------------------------------------
_DIFF_T2_MS = 1705968000000  # 2024-01-23T00:00:00Z


def cdc_view_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthesize_envelope(spark, sf_dir)

    def snap(ms: int) -> DataFrame:
        return fold_transactions_view(
            prepare_events(env).filter(F.col("_ts_millis") <= ms)
        ).select("transactionId", "status", "lastProcessedEventAt", "feeTotal")

    o = snap(_ASOF_MS).select(
        "transactionId",
        F.col("status").alias("old_status"),
        F.col("lastProcessedEventAt").alias("old_last_ms"),
        F.col("feeTotal").alias("old_fee"),
        F.lit(True).alias("_in_old"),
    )
    n = snap(_DIFF_T2_MS).select(
        "transactionId",
        F.col("status").alias("new_status"),
        F.col("lastProcessedEventAt").alias("new_last_ms"),
        F.col("feeTotal").alias("new_fee"),
    )
    j = n.join(o, "transactionId", "left").withColumn(
        "_in_old", F.coalesce(F.col("_in_old"), F.lit(False))
    )
    changed = (
        ~F.col("old_status").eqNullSafe(F.col("new_status"))
        | ~F.col("old_last_ms").eqNullSafe(F.col("new_last_ms"))
        | ~F.col("old_fee").eqNullSafe(F.col("new_fee"))
    )
    return (
        j.filter(~F.col("_in_old") | changed)
        .select(
            "transactionId",
            F.when(~F.col("_in_old"), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            "old_status",
            "new_status",
            "old_last_ms",
            "new_last_ms",
            "old_fee",
            "new_fee",
        )
    )


VIEW_DIFF_ORACLE_SQL = f"""
WITH o AS (
  SELECT transactionId, status AS old_status,
         lastProcessedEventAt AS old_last_ms, feeTotal AS old_fee
  FROM ({_asof_spliced(_ASOF_MS)}) s1
),
n AS (
  SELECT transactionId, status AS new_status,
         lastProcessedEventAt AS new_last_ms, feeTotal AS new_fee
  FROM ({_asof_spliced(_DIFF_T2_MS)}) s2
),
j AS (
  SELECT n.transactionId, n.new_status, n.new_last_ms, n.new_fee,
         o.old_status, o.old_last_ms, o.old_fee,
         o.transactionId IS NOT NULL AS in_old
  FROM n LEFT JOIN o ON n.transactionId = o.transactionId
)
SELECT transactionId,
       CASE WHEN NOT in_old THEN 'added' ELSE 'changed' END AS change_type,
       old_status, new_status, old_last_ms, new_last_ms, old_fee, new_fee
FROM j
WHERE NOT in_old
   OR old_status  IS DISTINCT FROM new_status
   OR old_last_ms IS DISTINCT FROM new_last_ms
   OR old_fee     IS DISTINCT FROM new_fee
"""

QUERIES["cdc_view_diff"] = cdc_view_diff
ORACLES["cdc_view_diff"] = VIEW_DIFF_ORACLE_SQL


# ---------------------------------------------------------------------------
# BOOTSTRAP HANDOFF under the hard gate (the lambda→kappa migration path):
# the upsert sink folds the first half of the log in ONE batch, as the
# view's first commit; the stream then folds the second half onto the same
# view. The final maintained view must hash-match the one-shot batch oracle
# of the WHOLE log — proving a deployment can backfill history with the
# batch engine and hand off to the stream mid-log without replaying it
# (the reference's S2 resume generalized to a cold-start bootstrap).
# Cross-boundary correctness carries in the stored rows: the guard in
# lastProcessedEventAt, and the seen ids, which also drop a redelivery that
# straddles the handoff.
# ---------------------------------------------------------------------------
def cdc_bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import (
        drain,
        parquet_upsert_sink,
        read_event_stream,
        read_view,
        stream_transactions_view,
    )
    from .helpers import gate_workdir, write_single_file

    env = synthesize_envelope(spark, sf_dir).filter(F.col("seq") < _STREAM_LIMIT)
    cut = _STREAM_LIMIT // 2
    workdir = gate_workdir("cdc-bootstrap-gate-")
    src, view_dir, ckpt = f"{workdir}/events", f"{workdir}/view", f"{workdir}/ckpt"

    # phase 1: the history, folded by the sink as the view's first commit
    sink = parquet_upsert_sink(view_dir, n_buckets=8)
    sink(prepare_events(env.filter(F.col("seq") < cut)), epoch_id="bootstrap")

    # phase 2: the second half "arrives" as a stream onto the same view
    write_single_file(env.filter(F.col("seq") >= cut), f"{src}/tail.json")
    drain(
        stream_transactions_view(read_event_stream(spark, src))
        .writeStream.foreachBatch(sink)
        .outputMode("update"),
        ckpt,
        "cdc_bootstrap_handoff",
    )
    return _gate_view(read_view(spark, view_dir))


QUERIES["cdc_bootstrap_handoff"] = cdc_bootstrap_handoff
ORACLES["cdc_bootstrap_handoff"] = _STREAM_ORACLE_SQL


# ---------------------------------------------------------------------------
# SCD Type-2 status history: the TEMPORAL-TABLE view of the CDC log. The
# materialized view keeps only the CURRENT status; auditors and funnel
# analyses need every status the view ever held and when — one row per
# (transaction, status interval) with [valid_from, valid_to) millis and an
# is_current flag. Semantics are exactly the fold's write history: an
# interval opens when an APPLIED status-bearing event (same dedup +
# strict-newer guard as fold_transactions_view, the reference's
# conditional-update semantics at TransactionViewUpsertService.kt:134-149)
# writes a status DIFFERENT from the view's previous one; applied
# timestamps are strictly increasing per key by the guard's definition,
# so intervals are well-formed without sorting tricks. One exchange on
# transactionId feeds the dedup window, the guard window, and all three
# history windows. The oracle reuses the fold oracle's env/valid/guarded/
# applied_events CTE prefix verbatim, so a hash match certifies that the
# interval law and the fold's status law agree event-for-event.
# ---------------------------------------------------------------------------
def cdc_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc_fold import status_history

    env = synthesize_envelope(spark, sf_dir)
    return status_history(prepare_events(env))


_HIST_PREFIX = ORACLE_SQL[: ORACLE_SQL.index("SELECT\n  tx AS transactionId")]
assert _HIST_PREFIX.rstrip().endswith(")")

CDC_STATUS_HISTORY_ORACLE_SQL = f"""
{_HIST_PREFIX},
status_writes AS (
  SELECT tx, seq, ts_ms, status_val FROM applied_events
  WHERE applied AND status_val IS NOT NULL
),
with_prev AS (
  SELECT tx, seq, ts_ms, status_val,
         LAG(status_val) OVER (PARTITION BY tx ORDER BY seq) AS prev
  FROM status_writes
),
ch AS (
  SELECT tx, seq, ts_ms, status_val FROM with_prev
  WHERE prev IS NULL OR prev <> status_val
)
SELECT tx AS transactionId,
       ROW_NUMBER() OVER (PARTITION BY tx ORDER BY seq) AS version,
       status_val AS status,
       ts_ms AS valid_from_ms,
       LEAD(ts_ms) OVER (PARTITION BY tx ORDER BY seq) AS valid_to_ms,
       LEAD(ts_ms) OVER (PARTITION BY tx ORDER BY seq) IS NULL AS is_current
FROM ch
"""

QUERIES["cdc_status_history"] = cdc_status_history
ORACLES["cdc_status_history"] = CDC_STATUS_HISTORY_ORACLE_SQL


# ---------------------------------------------------------------------------
# POINT-IN-TIME STATUS LOOKUP (temporal-table probe): for EVERY envelope
# event, the status the materialized view held at that event's business
# timestamp — the `FOR SYSTEM_TIME AS OF` query pattern over the SCD2
# history, with the envelope log itself as the probe set (so interval
# boundaries are probed exactly: a status applies AT its own valid_from).
# The Spark plan is the scalable PIT shape — history and probes UNION on
# the key, one last-non-null window resolves every probe; ZERO joins, one
# key exchange (operators/cdc_fold.py:status_at_events). The oracle states
# the naive semantics instead (a correlated LATERAL top-1 over the
# interval table), so a hash match certifies that the window formulation
# IS the as-of join. 100 TB: the union table is |events| + |changes| rows
# on one exchange — the theta-join alternative is |events| × |intervals|.
# ---------------------------------------------------------------------------
def cdc_pit_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc_fold import status_at_events

    env = synthesize_envelope(spark, sf_dir)
    return status_at_events(prepare_events(env))


_PIT_PREFIX = CDC_STATUS_HISTORY_ORACLE_SQL[
    : CDC_STATUS_HISTORY_ORACLE_SQL.index("SELECT tx AS transactionId")
]
assert _PIT_PREFIX.rstrip().endswith(")")

CDC_PIT_STATUS_ORACLE_SQL = f"""
{_PIT_PREFIX},
hist AS (
  SELECT tx, ROW_NUMBER() OVER (PARTITION BY tx ORDER BY seq) AS version,
         status_val, ts_ms FROM ch
)
SELECT p.tx AS transactionId,
       p.seq,
       p.ts_ms AS probe_ts_ms,
       p.code AS event_code,
       h.status_val AS status_at,
       h.version AS version_at
FROM applied_events p
LEFT JOIN LATERAL (
  SELECT status_val, version FROM hist h
  WHERE h.tx = p.tx AND h.ts_ms <= p.ts_ms
  ORDER BY h.ts_ms DESC LIMIT 1
) h ON TRUE
"""

QUERIES["cdc_pit_status"] = cdc_pit_status
ORACLES["cdc_pit_status"] = CDC_PIT_STATUS_ORACLE_SQL


# ---------------------------------------------------------------------------
# Per-field column lineage of the CDC fold (round 9): for every view field,
# which event's write produced the final value — the queryable form of the
# reference's per-field write map (TransactionViewUpsertService.kt:308-659),
# generalizing the per-event span projection (cdc_event_spans) to field
# grain. Oracle: the fold CTEs (env/valid/guarded/applied_events) reused
# verbatim + one grouped max(struct_pack) per field, long format via UNION.
# ---------------------------------------------------------------------------
def cdc_field_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc_fold import fold_field_lineage

    env = synthesize_envelope(spark, sf_dir)
    return fold_field_lineage(prepare_events(env))


_FOLD_CTES = ORACLE_SQL.rsplit("\nSELECT\n", 1)[0]
assert _FOLD_CTES.count("WITH env AS") == 1 and _FOLD_CTES.endswith(")")


def _lin_select(field: str, branches: list[tuple[str, bool]]) -> str:
    whens = "\n       ".join(
        f"WHEN {cond} THEN struct_pack(s := seq, eid := 'ev-' || CAST(seq AS VARCHAR), "
        f"c := code, t := ts_ms, g := {'TRUE' if g else 'FALSE'})"
        for cond, g in branches
    )
    return (
        f"  SELECT tx, '{field}' AS field,\n"
        f"       (max(CASE {whens} END)) AS w\n"
        f"  FROM applied_events GROUP BY tx"
    )


_CLOSED_FAMILY = (
    "('TRANSACTION_CLOSED_EVENT','TRANSACTION_CLOSURE_SYNTHETIC_EVENT',"
    "'TRANSACTION_CLOSURE_ERROR_EVENT','TRANSACTION_CLOSURE_RETRIED_EVENT')"
)

_LINEAGE_FIELDS: list[tuple[str, list[tuple[str, bool]]]] = [
    ("status", [("applied AND status_val IS NOT NULL", True)]),
    ("lastProcessedEventAt", [("applied", True)]),
    ("email", [(_ACT, False)]),
    ("paymentNotices", [(_ACT, False)]),
    ("clientId", [(_ACT, False)]),
    ("creationDate", [(_ACT, False)]),
    ("userId", [(_ACT + " AND userId IS NOT NULL", False)]),
    ("paymentGateway", [(_AUTHREQ, False)]),
    ("paymentTypeCode", [(_AUTHREQ, False)]),
    ("pspId", [(_AUTHREQ, False)]),
    ("feeTotal", [(_AUTHREQ, False)]),
    ("authorizationRequestId", [(_AUTHREQ, False)]),
    ("authorizationCode", [(_AUTHCMP, False)]),
    ("rrn", [(_AUTHCMP, False)]),
    (
        "gatewayAuthorizationStatus",
        [(_AUTHCMP + " AND ga_kind IN ('NPG','REDIRECT')", False)],
    ),
    (
        "endToEndId",
        [(_AUTHCMP + " AND ga_kind = 'NPG' AND ga_e2e IS NOT NULL", False)],
    ),
    (
        "authorizationErrorCode",
        [(_AUTHCMP + " AND ga_kind IN ('NPG','REDIRECT')", False)],
    ),
    (
        "sendPaymentResultOutcome",
        [
            ("code = 'TRANSACTION_USER_RECEIPT_REQUESTED_EVENT'", False),
            (f"code IN {_CLOSED_FAMILY} AND applied", True),
        ],
    ),
    (
        "closureErrorData",
        [
            (
                "code IN ('TRANSACTION_CLOSED_EVENT',"
                "'TRANSACTION_CLOSURE_SYNTHETIC_EVENT')",
                False,
            ),
            ("code = 'TRANSACTION_CLOSURE_ERROR_EVENT' AND applied", True),
            (
                "code = 'TRANSACTION_CLOSURE_RETRIED_EVENT' AND applied "
                "AND closure_present",
                True,
            ),
        ],
    ),
]

CDC_FIELD_LINEAGE_ORACLE_SQL = (
    _FOLD_CTES
    + ",\nlin AS (\n"
    + "\n  UNION ALL\n".join(_lin_select(f, br) for f, br in _LINEAGE_FIELDS)
    + "\n)\n"
    + """
SELECT tx AS transactionId, field,
       w.eid AS event_id, w.c AS event_code,
       w.t AS event_ts_millis, w.g AS guarded
FROM lin WHERE w IS NOT NULL
"""
)

QUERIES["cdc_field_lineage"] = cdc_field_lineage
ORACLES["cdc_field_lineage"] = CDC_FIELD_LINEAGE_ORACLE_SQL


# ---------------------------------------------------------------------------
# STREAMING per-field lineage twin (round 10): the deployed-mode shape of
# cdc_field_lineage. The upsert sink's "lineage" fold keeps one row per key
# holding the full per-field writer map, and folds each micro-batch onto
# the stored maps it touches (each stored entry counts as its field's
# first write). Run in TWO phases sharing one checkpoint (the second half
# of the log "arrives" while the first query is down), so the gate
# certifies that the LINEAGE map resumes from the table across a restart —
# then the on-disk table must hash-match the BATCH lineage oracle on the
# stream window: batch law ≡ streaming-with-restart ≡ SQL.
# ---------------------------------------------------------------------------
def cdc_stream_field_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _restart_gate(spark, sf_dir, "cdc-lineage-gate-", "lineage")
    e = table.select(
        "transactionId", F.explode("lineage").alias("e")
    )
    return e.select(
        "transactionId",
        F.col("e.field").alias("field"),
        F.col("e.event_id").alias("event_id"),
        F.col("e.event_code").alias("event_code"),
        F.col("e.event_ts_millis").alias("event_ts_millis"),
        F.col("e.guarded").alias("guarded"),
    )


QUERIES["cdc_stream_field_lineage"] = cdc_stream_field_lineage
ORACLES["cdc_stream_field_lineage"] = _stream_window(CDC_FIELD_LINEAGE_ORACLE_SQL)


# ---------------------------------------------------------------------------
# STREAMING SCD2 status history (round 10): the temporal table as it
# deploys. The upsert sink's "history" fold appends an interval entry
# exactly when an applied event CHANGES the status (the batch law's
# lag-over-status-writes, the stored last interval's status counting as
# the first write); each stored row is O(#status changes). Two phases on
# one checkpoint certify that the interval lists resume across a restart;
# valid_to / is_current derive from the NEXT entry at read time (entries
# are born ordered — applied timestamps strictly increase per key). Must
# hash-match the batch SCD2 oracle on the stream window: with the
# lineage and view twins, every queryable artifact of the fold family
# (current state, per-field writers, status intervals) now has a
# deployed-mode certification.
# ---------------------------------------------------------------------------
def cdc_stream_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _restart_gate(spark, sf_dir, "cdc-hist-gate-", "history")
        .select("transactionId", "history")
        .select(
            "transactionId",
            F.posexplode("history").alias("_i", "e"),
            F.col("history").alias("_h"),
        )
        .select(
            "transactionId",
            F.col("e.version").alias("version"),
            F.col("e.status").alias("status"),
            F.col("e.valid_from_ms").alias("valid_from_ms"),
            F.try_element_at(F.col("_h"), (F.col("_i") + 2).cast("int"))[
                "valid_from_ms"
            ].alias("valid_to_ms"),
            (F.col("_i") + 2 > F.size("_h")).alias("is_current"),
        )
    )


QUERIES["cdc_stream_status_history"] = cdc_stream_status_history
ORACLES["cdc_stream_status_history"] = _stream_window(CDC_STATUS_HISTORY_ORACLE_SQL)
