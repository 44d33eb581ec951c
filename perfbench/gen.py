"""Seeded inputs for the benchmark: CDC envelope logs and their arrival schedule.

The engine never sees the seed, only the files this module writes. Every
event is an envelope of the shape the engine reads (id, transactionId,
eventCode, creationDate, seq, ttl, operationType, data). The logs carry the
awkward cases the reference has to survive: out-of-order arrival, equal
timestamps, duplicate deliveries, and envelopes the intake must skip (a ttl
marker, a non-insert operationType, an unknown event code).

``seq`` is the global arrival index, increasing in file order and within a
file, so a batch fold over all files and the streaming fold over the same
files in arrival order must produce the same view.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Any

LIFECYCLE = (
    "TRANSACTION_ACTIVATED_EVENT",
    "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT",
    "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT",
    "TRANSACTION_CLOSURE_REQUESTED_EVENT",
    "TRANSACTION_CLOSED_EVENT",
    "TRANSACTION_USER_RECEIPT_REQUESTED_EVENT",
    "TRANSACTION_USER_RECEIPT_ADDED_EVENT",
)
EXTRA = (
    "TRANSACTION_EXPIRED_EVENT",
    "TRANSACTION_REFUND_REQUESTED_EVENT",
    "TRANSACTION_REFUND_ERROR_EVENT",
    "TRANSACTION_REFUNDED_EVENT",
    "TRANSACTION_REFUND_RETRIED_EVENT",
    "TRANSACTION_USER_CANCELED_EVENT",
    "TRANSACTION_CLOSURE_ERROR_EVENT",
    "TRANSACTION_CLOSURE_RETRIED_EVENT",
    "TRANSACTION_CLOSURE_SYNTHETIC_EVENT",
    "TRANSACTION_CLOSURE_FAILED_EVENT",
    "TRANSACTION_ADD_USER_RECEIPT_ERROR_EVENT",
    "TRANSACTION_ADD_USER_RECEIPT_RETRY_EVENT",
)
UNKNOWN = ("TRANSACTION_UNKNOWN_EVENT", "SOME_NEW_EVENT")
VALID_OPS = ("insert", "update", "replace")
BAD_OPS = ("delete", "invalidate", "drop")

# share of events of each awkward kind
P_DUPLICATE = 0.05
P_EQUAL_TS = 0.08
P_TTL = 0.02
P_BAD_OP = 0.02
P_UNKNOWN = 0.02
P_LATE = 0.10

_BASE = datetime(2025, 1, 1, tzinfo=timezone.utc)
_BASE_MS = int(_BASE.timestamp()) * 1000


def _iso(ms: int) -> str:
    ts = _BASE + timedelta(milliseconds=ms)
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def _payload(rng: random.Random, code: str, tx: str) -> dict[str, Any] | None:
    d: dict[str, Any] = {}
    if code == "TRANSACTION_ACTIVATED_EVENT":
        d["email"] = f"user-{tx}@example.com"
        d["paymentNotices"] = [
            {
                "paymentToken": f"tok-{tx}-{i}",
                "rptId": f"rpt-{tx}-{i}",
                "description": f"notice {i}",
                "amount": rng.randrange(100, 10_000),
            }
            for i in range(rng.randrange(1, 3))
        ]
        d["clientId"] = rng.choice(("CHECKOUT", "IO", "CHECKOUT_CART"))
        d["userId"] = None if rng.random() < 0.3 else f"uid-{tx}"
    elif code == "TRANSACTION_AUTHORIZATION_REQUESTED_EVENT":
        d["paymentGateway"] = rng.choice(("NPG", "REDIRECT"))
        d["paymentTypeCode"] = rng.choice(("CP", "PPAL", "BPAY"))
        d["pspId"] = f"psp-{rng.randrange(10)}"
        d["fee"] = rng.randrange(50, 500)
        d["authorizationRequestId"] = f"authreq-{tx}"
    elif code == "TRANSACTION_AUTHORIZATION_COMPLETED_EVENT":
        d["authorizationCode"] = None if rng.random() < 0.25 else f"auth-{rng.randrange(10_000)}"
        d["rrn"] = None if rng.random() < 0.25 else f"rrn-{rng.randrange(10_000)}"
        d["gatewayAuthData"] = {
            "kind": rng.choice(("NPG", "REDIRECT", "UNKNOWN")),
            "operationResult": rng.choice(("EXECUTED", "DECLINED", "FAILED")),
            "outcome": rng.choice(("OK", "KO")),
            "paymentEndToEndId": None if rng.random() < 0.3 else f"e2e-{rng.randrange(10_000)}",
            "errorCode": None if rng.random() < 0.5 else f"E{rng.randrange(100):03d}",
        }
    elif code in ("TRANSACTION_USER_RECEIPT_REQUESTED_EVENT", "TRANSACTION_USER_RECEIPT_ADDED_EVENT"):
        d["responseOutcome"] = rng.choice(("OK", "KO"))
    elif code == "TRANSACTION_CLOSED_EVENT":
        d["wasCanceledByUser"] = rng.random() < 0.2
        d["responseOutcome"] = rng.choice(("OK", "KO"))
    elif code == "TRANSACTION_EXPIRED_EVENT":
        d["statusBeforeExpiration"] = rng.choice(
            ("ACTIVATED", "CANCELLATION_REQUESTED", "AUTHORIZATION_COMPLETED", "CLOSED")
        )
    elif code in ("TRANSACTION_CLOSURE_ERROR_EVENT", "TRANSACTION_CLOSURE_RETRIED_EVENT"):
        d["closureErrorData"] = {
            "httpErrorCode": rng.choice(("500", "502", "422")),
            "errorDescription": "closure failed",
            "errorType": rng.choice(("KO_RESPONSE_RECEIVED", "COMMUNICATION_ERROR")),
        }
    return d or None


def is_valid(ev: dict[str, Any]) -> bool:
    """True iff the engine's intake must fold this envelope."""
    return (
        ev["operationType"] in VALID_OPS
        and ev["ttl"] is None
        and (ev["eventCode"] in LIFECYCLE or ev["eventCode"] in EXTRA)
    )


@dataclass
class LogFile:
    """One source file: its rows in arrival order and, for scheduled files,
    the offset in seconds from the start of the schedule at which it is due."""

    name: str
    rows: list[dict[str, Any]]
    due: float | None = None


@dataclass
class Log:
    """Files in arrival order plus the view the engine must end up with,
    reduced to what this module can state independently of the engine:
    transactionId -> lastProcessedEventAt (the max event time over the
    transaction's valid events)."""

    files: list[LogFile] = field(default_factory=list)
    expected: dict[str, int] = field(default_factory=dict)

    @property
    def n_events(self) -> int:
        return sum(len(f.rows) for f in self.files)


class _Builder:
    """Mints transactions and event envelopes from one seeded RNG."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.n_tx = 0
        self.n_ev = 0

    def transaction(self, start_ms: int) -> list[dict[str, Any]]:
        """One transaction's envelopes in event-time order (seq unset)."""
        rng = self.rng
        tx = f"tx-{self.seed}-{self.n_tx:07d}"
        self.n_tx += 1
        codes = list(LIFECYCLE[: rng.randrange(1, len(LIFECYCLE) + 1)])
        codes += [rng.choice(EXTRA) for _ in range(rng.randrange(0, 3))]
        ts = start_ms
        out = []
        for code in codes:
            if not out or rng.random() >= P_EQUAL_TS:
                ts += rng.randrange(1, 60_000)
            out.append(
                {
                    "id": f"ev-{self.seed}-{self.n_ev:08d}",
                    "transactionId": tx,
                    "eventCode": rng.choice(UNKNOWN) if rng.random() < P_UNKNOWN else code,
                    "creationDate": _iso(ts),
                    "_ms": _BASE_MS + ts,  # epoch millis of creationDate
                    "seq": None,
                    "ttl": rng.randrange(1, 9999) if rng.random() < P_TTL else None,
                    "operationType": rng.choice(BAD_OPS if rng.random() < P_BAD_OP else VALID_OPS),
                    "data": _payload(rng, code, tx),
                }
            )
            self.n_ev += 1
        return out


def _finish(log: Log, files: list[LogFile], seq0: int) -> int:
    """Assign arrival ``seq`` over ``files`` (in order), record the expected
    view, drop the helper fields, and append the files to ``log``."""
    seq = seq0
    for f in files:
        for ev in f.rows:
            ev["seq"] = seq
            seq += 1
            if is_valid(ev):
                tx = ev["transactionId"]
                log.expected[tx] = max(log.expected.get(tx, ev["_ms"]), ev["_ms"])
        log.files.append(f)
    for f in files:
        for ev in f.rows:
            ev.pop("_ms", None)
    return seq


def _shuffled_batch(b: _Builder, n_tx: int, n_files: int, prefix: str) -> list[LogFile]:
    """``n_tx`` transactions whose events (and duplicate deliveries) arrive
    in shuffled order, split into ``n_files`` files."""
    rows = []
    for _ in range(n_tx):
        start = b.rng.randrange(0, 30 * 86_400_000)
        for ev in b.transaction(start):
            rows.append(ev)
            if b.rng.random() < P_DUPLICATE:
                rows.append(dict(ev))
    b.rng.shuffle(rows)
    n_files = max(1, min(n_files, len(rows)))
    return [
        LogFile(f"{prefix}-{i:05d}.json", rows[i::n_files]) for i in range(n_files)
    ]


def backlog_log(seed: int, n_tx: int, n_files: int) -> Log:
    """A shuffled log of ``n_tx`` transactions split into ``n_files`` files."""
    log = Log()
    _finish(log, _shuffled_batch(_Builder(seed), n_tx, n_files, "log"), 0)
    return log


@dataclass
class StreamPlan:
    """Inputs of the streaming workload, one log with three phases:
    ``history`` (folded before anything is measured), ``backlog`` (arrives
    while the query is down) and ``steady`` (one file per tick, due on a
    fixed schedule). ``log.expected`` covers all three."""

    log: Log
    history: list[LogFile]
    backlog: list[LogFile]
    steady: list[LogFile]


def stream_plan(
    seed: int,
    history_tx: int,
    backlog_tx: int,
    backlog_files: int,
    tx_per_tick: int,
    tick_s: float,
    seconds: float,
) -> StreamPlan:
    b = _Builder(seed)
    log = Log()
    history = _shuffled_batch(b, history_tx, 1, "a-history")
    backlog = _shuffled_batch(b, backlog_tx, backlog_files, "b-backlog")
    n_ticks = max(1, int(round(seconds / tick_s)))
    ticks: list[list[dict[str, Any]]] = [[] for _ in range(n_ticks)]
    rng = b.rng
    for k in range(n_ticks):
        for _ in range(tx_per_tick):
            evs = b.transaction(rng.randrange(0, 30 * 86_400_000))
            at = k
            for j, ev in enumerate(evs):
                # lifecycle steps land over the following ticks
                if j:
                    at += rng.randrange(1, 8)
                land = at
                # a transaction's first event lands on its own tick, so every
                # tick's file carries rows; later ones may be overtaken
                if j and rng.random() < P_LATE:
                    land += rng.randrange(1, 12)
                if land < n_ticks:
                    ticks[land].append(ev)
                if rng.random() < P_DUPLICATE:
                    again = land + rng.randrange(0, 10)
                    if again < n_ticks:
                        ticks[again].append(dict(ev))
    steady = [
        LogFile(f"c-steady-{k:05d}.json", rows, due=k * tick_s)
        for k, rows in enumerate(ticks)
    ]
    seq = _finish(log, history, 0)
    seq = _finish(log, backlog, seq)
    _finish(log, steady, seq)
    return StreamPlan(log, history, backlog, steady)


def write_file(path: str, f: LogFile, mtime: float | None = None) -> None:
    """Write ``f`` as JSON lines at ``path``; pin its mtime when given."""
    with open(path, "w", encoding="utf-8") as out:
        for ev in f.rows:
            out.write(json.dumps(ev, separators=(",", ":")))
            out.write("\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))
