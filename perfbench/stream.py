"""The ``stream`` workload: restart catch-up, then open-loop steady traffic.

Phases, one streaming checkpoint throughout:

1. history: a small log is folded through the pipeline (untimed; pays the
   first micro-batch's one-off costs).
2. catch-up (timed): the query is stopped, a backlog of files arrives, and
   the query restarts on the same checkpoint and drains it.
3. steady (timed): a generator thread drops one file per tick on a fixed
   schedule for ``LEAD_S`` plus ``--seconds``, never waiting for the engine.
   Each file is staged, its mtime set to its due time, then renamed into the
   source directory, so the file source's mtime order is the drop order.
   Freshness is measured on the files due after the lead-in: the first
   micro-batches after an idle spell follow a start-up cascade (a one-file
   batch, then ever larger ones), and a file's wait there sums several
   batch durations, which would magnify every jitter in them.

Untraced runs call ``start_view_maintenance`` unchanged. Traced runs compose
the same public pieces so that the fold's materialised output and the
upsert sink's merge get spans of their own.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from datetime import datetime, timezone
from pathlib import Path

import gen
from stats import files_to_batches, median, percentile
from tracing import job_totals, jobs_within

N_BUCKETS = 64  # the sink's default bucket count
HISTORY_TX = 400
BACKLOG_TX = 1200
BACKLOG_FILES = 50
TX_PER_TICK = 1
TICK_S = 0.5  # 2 files/s, 2 new transactions/s
LEAD_S = 2.0  # about one micro-batch cycle, dropped but not measured
DRAIN_TIMEOUT_S = 60.0


def _progress(q) -> list[dict]:
    """Completed micro-batches of this query run, one dict each."""
    out = {}
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if "addBatch" in d.get("durationMs", {}):
            out[d["batchId"]] = d
    return [out[k] for k in sorted(out)]


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _batch_interval(p: dict) -> tuple[float, float]:
    start = _epoch(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def _drain(ctx, q, what: str) -> bool:
    """processAllAvailable with a watchdog that stops a hung query."""
    timer = threading.Timer(DRAIN_TIMEOUT_S, q.stop)
    timer.start()
    try:
        q.processAllAvailable()
        return True
    except Exception as exc:  # noqa: BLE001 - a failed drain is a failed operation
        ctx.fail(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
        return False
    finally:
        timer.cancel()


def _manifest_head(spark, view_dir: str) -> dict:
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import valid_commits

    commits = valid_commits(spark, view_dir)
    return dict(commits[0][1]["buckets"]) if commits else {}


def _generation_stats(view_dir: str, rels) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet files under the given bucket dirs."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for rel in rels:
        d = Path(view_dir) / rel
        for f in d.glob("*.parquet"):
            files += 1
            size += f.stat().st_size
            rows += pq.read_metadata(str(f)).num_rows
    return files, size, rows


def _start(ctx, src: str, view: str, ckpt: str):
    from pagopa_ecommerce_cdc_service_spark.streaming import pipeline

    spark = ctx.spark
    if not ctx.tracer.enabled:
        return pipeline.start_view_maintenance(spark, src, view, ckpt, n_buckets=N_BUCKETS)

    from pyspark.sql import functions as F

    tracer = ctx.tracer
    merge = pipeline.parquet_upsert_sink(view, N_BUCKETS)

    def sink(batch_df, epoch_id):
        trace = f"batch-{epoch_id}"
        with tracer.span("state_fold", trace) as s:
            m = batch_df.persist()
            s.attrs["rows_updated"] = m.count()
        s.attrs["poisoned"] = m.filter(F.col("_poisoned").isNotNull()).select(
            F.coalesce(F.sum(F.size("_poisoned")), F.lit(0))
        ).first()[0]
        before = _manifest_head(spark, view)
        with tracer.span("pipeline", trace) as p:
            merge(m, epoch_id)
        after = _manifest_head(spark, view)
        touched = [b for b, rel in after.items() if before.get(b) != rel]
        files, size, rows = _generation_stats(view, [after[b] for b in touched])
        p.attrs.update(buckets=len(touched), files=files, bytes=size, rows=rows)
        m.unpersist()

    raw = pipeline.read_event_stream(spark, src)
    updates = pipeline.stream_transactions_view(raw)
    return (
        updates.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _drop(stage: Path, src: Path, files, t0: float, late: list) -> None:
    """Generator thread: rename each staged file into the source directory
    at its due time; record how late each rename ran."""
    for f in files:
        due = t0 + f.due
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(stage / f.name, src / f.name)
        late.append(max(0.0, time.time() - due))


def run(ctx) -> None:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    plan = gen.stream_plan(
        ctx.args.seed, HISTORY_TX, BACKLOG_TX, BACKLOG_FILES, TX_PER_TICK, TICK_S,
        LEAD_S + ctx.args.seconds,
    )
    src, stage = work / "src", work / "stage"
    src.mkdir()
    stage.mkdir()
    view, ckpt = str(work / "view"), str(work / "ckpt")

    # 1. history (untimed)
    n_setup_spans = len(tracer.spans)
    now = time.time()
    for i, f in enumerate(plan.history):
        gen.write_file(str(src / f.name), f, mtime=now - 7200 + i)
    q = _start(ctx, str(src), view, ckpt)
    _drain(ctx, q, "history drain")
    q.stop()
    del tracer.spans[n_setup_spans:]  # the history phase is not measured
    ctx.mark("history folded")

    # 2. the backlog lands while the query is down; restart and catch up
    now = time.time()
    for i, f in enumerate(plan.backlog):
        gen.write_file(str(stage / f.name), f, mtime=now - 3600 + i)
        os.rename(stage / f.name, src / f.name)
    backlog_events = sum(len(f.rows) for f in plan.backlog)
    with tracer.span("phase.catchup", "catchup"):
        t_restart = time.time()
        q = _start(ctx, str(src), view, ckpt)
        _drain(ctx, q, "catch-up drain")
        t_caught_up = time.time()
    catchup_s = t_caught_up - t_restart
    n_catchup_batches = len(_progress(q))
    ctx.mark("caught up")
    ctx.attempted += len(plan.backlog)

    # 3. steady open loop
    t0 = time.time() + 0.5
    for f in plan.steady:
        gen.write_file(str(stage / f.name), f, mtime=t0 + f.due)
    late: list[float] = []
    with tracer.span("phase.steady", "steady"):
        dropper = threading.Thread(target=_drop, args=(stage, src, plan.steady, t0, late), name="dropper")
        dropper.start()
        dropper.join()
        _drain(ctx, q, "steady drain")
        t_end = time.time()
    progress = _progress(q)
    q.stop()
    ctx.mark("steady window drained")

    catchup, steady = progress[:n_catchup_batches], progress[n_catchup_batches:]
    ctx.attempted += len(plan.steady) + len(progress)
    fresh: list[float] = []
    per_batch: list[int] = []
    try:
        if sum(p["numInputRows"] for p in catchup) != backlog_events:
            raise ValueError("catch-up did not commit exactly the backlog")
        owner = files_to_batches([len(f.rows) for f in plan.steady], [p["numInputRows"] for p in steady])
        ends = [_batch_interval(p)[1] for p in steady]
        fresh = [
            ends[b] - (t0 + f.due)
            for b, f in zip(owner, plan.steady)
            if f.due >= LEAD_S - TICK_S / 2
        ]
        per_batch = [owner.count(b) for b in range(len(steady))]
    except ValueError as exc:
        ctx.fail(f"file-to-batch mapping: {exc}", len(plan.steady))

    _check(ctx, plan, view, str(src))
    ctx.mark("checked")

    ctx.e2e["wait_s"] = median(fresh) if fresh else float("nan")
    ctx.e2e["fold_events_per_s"] = backlog_events / catchup_s
    ctx.note("fresh_p50_s", ctx.e2e["wait_s"], "s", len(fresh))
    # the highest percentile with ten samples beyond it at the default
    # --seconds: 2 files/s over 20 s give 40 samples
    try:
        tail = percentile(fresh, 0.75)
        ctx.note("fresh_p75_s", tail, "s", len(fresh))
    except ValueError as exc:
        tail = 0.0
        print(f"[perfbench] fresh_p75_s not reported: {exc}", file=sys.stderr)
    ctx.note("catchup_events_per_s", ctx.e2e["fold_events_per_s"], "events/s", 1)
    ctx.note("catchup_s", catchup_s, "s", 1)
    offered = sum(len(f.rows) for f in plan.steady) / (LEAD_S + ctx.args.seconds)
    ctx.note("offered_events_per_s", offered, "events/s", len(plan.steady))
    ctx.note("view_rows", len(plan.log.expected), "count", 1)
    ctx.data = {
        "progress": progress,
        "n_catchup": n_catchup_batches,
        "per_batch": per_batch,
        "late": late,
        "fresh": fresh,
        "fresh_p75": tail,
        "catchup_s": catchup_s,
        "window": (t_restart, t_end),
        "t0": t0,
    }
    ctx.detail = {
        "catchup_s": catchup_s,
        "catchup_batches": n_catchup_batches,
        "steady_batch_s": [round(b - a, 3) for a, b in map(_batch_interval, steady)],
        "steady_files_per_batch": per_batch,
        "fresh_s": [round(x, 3) for x in fresh],
    }
    if tracer.enabled:
        _batch_spans(ctx, progress, n_catchup_batches, plan, fresh, t0)


def _batch_spans(ctx, progress, n_catchup, plan, fresh, t0) -> None:
    """Attach the sink spans to micro-batch spans taken from the progress
    reports, lay the source phases out inside each batch, and add one wait
    span per steady file (due time to commit)."""
    tracer = ctx.tracer
    phases = {s.trace: s.id for s in tracer.spans if s.name.startswith("phase.")}
    for i, p in enumerate(progress):
        start, end = _batch_interval(p)
        trace = f"batch-{p['batchId']}"
        parent = phases["catchup" if i < n_catchup else "steady"]
        bid = tracer.add("stream", start, end, trace, parent, rows=p["numInputRows"])
        tracer.reparent([s.id for s in tracer.spans if s.trace == trace and s.parent is None and s.id != bid], bid)
        d = p["durationMs"]
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch"):
            ms = d.get(phase, 0) / 1000.0
            if phase != "walCommit":
                tracer.add("sources", t, t + ms, trace, bid, phase=phase)
            t += ms
    measured = [f for f in plan.steady if f.due >= LEAD_S - TICK_S / 2]
    for f, w in zip(measured, fresh):
        tracer.add("wait.file", t0 + f.due, t0 + f.due + w, f"file-{f.name}")


def _canonical(rows) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


def _check(ctx, plan, view: str, src: str) -> None:
    """The maintained view equals the batch fold over the same files, and
    both agree with what the generator knows independently."""
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import transactions_view_from_log
    from pagopa_ecommerce_cdc_service_spark.schemas import EVENT_ENVELOPE_TYPE
    from pagopa_ecommerce_cdc_service_spark.streaming.pipeline import read_view

    spark = ctx.spark
    ctx.attempted += 3
    try:
        batch = transactions_view_from_log(spark.read.schema(EVENT_ENVELOPE_TYPE).json(src))
        live = [r.asDict(recursive=True) for r in read_view(spark, view).collect()]
        poisoned = sum(len(r.pop("_poisoned") or ()) for r in live)
        if poisoned:
            ctx.fail(f"{poisoned} events were poisoned in the fold", poisoned)
        if _canonical(live) != _canonical(r.asDict(recursive=True) for r in batch.collect()):
            ctx.fail("maintained view differs from the batch fold of the same files")
        lpea = {r["transactionId"]: r["lastProcessedEventAt"] for r in live}
        if len(lpea) != len(live) or lpea != plan.log.expected:
            ctx.fail(
                f"view keys/lastProcessedEventAt differ from the generator's "
                f"({len(lpea)} vs {len(plan.log.expected)} transactions)"
            )
    except Exception as exc:  # noqa: BLE001 - a crashed check is a failed check
        ctx.fail(f"stream check: {type(exc).__name__}: {str(exc)[:300]}")


def layer_metrics(ctx, jobs) -> None:
    d, L = ctx.data, ctx.layer
    progress = d["progress"]
    spans = ctx.tracer.spans

    def med(key):
        xs = [p["durationMs"].get(key, 0) for p in progress]
        return median(xs) if xs else 0.0

    def folded(p):
        m = (p.get("observedMetrics") or {}).get("cdc_fold")
        if isinstance(m, dict):
            return m.get("n_folded", 0)
        return m[0] if m else 0

    raw = sum(p["numInputRows"] for p in progress)
    n_folded = sum(folded(p) for p in progress)
    L["sources.rows_raw"] = raw
    L["sources.rows_skipped"] = raw - n_folded
    L["sources.useful_ratio"] = n_folded / raw if raw else 0.0
    L["stream.latest_offset_ms_p50"] = med("latestOffset")
    L["stream.get_batch_ms_p50"] = med("getBatch")

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    fold = [s for s in spans if s.name == "state_fold"]
    fold_s = sum(s.end - s.start for s in fold)
    L["state_fold.fold_s"] = fold_s
    L["state_fold.events_per_s"] = n_folded / fold_s if fold_s else 0.0
    L["state_fold.rows_updated"] = sum(o.get("numRowsUpdated", 0) for o in ops)
    L["state_fold.state_rows"] = ops[-1].get("numRowsTotal", 0) if ops else 0
    L["state_fold.state_bytes"] = ops[-1].get("memoryUsedBytes", 0) if ops else 0
    L["state_fold.state_commit_ms"] = median([o.get("commitTimeMs", 0) for o in ops]) if ops else 0.0
    L["state_fold.updates_ms"] = median([o.get("allUpdatesTimeMs", 0) for o in ops]) if ops else 0.0
    L["state_fold.poisoned"] = sum(s.attrs.get("poisoned", 0) for s in fold)

    merges = [s for s in spans if s.name == "pipeline"]
    updated = sum(s.attrs.get("rows_updated", 0) for s in fold)
    rewritten = sum(s.attrs.get("rows", 0) for s in merges)
    L["pipeline.merge_s"] = sum(s.end - s.start for s in merges)
    L["pipeline.buckets_touched"] = sum(s.attrs.get("buckets", 0) for s in merges)
    L["pipeline.rows_rewritten"] = rewritten
    L["pipeline.rewrite_amplification"] = rewritten / updated if updated else 0.0
    L["pipeline.files_written"] = sum(s.attrs.get("files", 0) for s in merges)
    L["pipeline.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in merges)

    secs = [_batch_interval(p)[1] - _batch_interval(p)[0] for p in progress]
    L["stream.batches"] = len(progress)
    L["stream.batch_s_p50"] = median(secs) if secs else 0.0
    L["stream.batch_s_max"] = max(secs) if secs else 0.0
    L["stream.add_batch_ms_p50"] = med("addBatch")
    L["stream.query_planning_ms_p50"] = med("queryPlanning")
    L["stream.wal_commit_ms_p50"] = med("walCommit")
    L["stream.commit_offsets_ms_p50"] = med("commitOffsets")
    L["stream.backlog_files_max"] = max(d["per_batch"]) if d["per_batch"] else 0
    L["stream.catchup_s"] = d["catchup_s"]
    L["stream.fresh_p75_s"] = d["fresh_p75"]
    L["gen.late_max_s"] = max(d["late"]) if d["late"] else 0.0

    for k in ("exec_s", "stages", "tasks", "shuffle_bytes", "executor_cpu_s"):
        L[f"cdc_fold.{k}"] = 0.0
    for k in ("build_s", "build_jobs", "plan_nodes", "scans", "exchanges", "broadcasts"):
        L[f"plans.{k}"] = 0.0

    lo, hi = d["window"]
    mine = jobs_within(jobs, lo, hi)
    for k, v in job_totals(mine).items():
        L[f"exec.{k}"] = v
    L["exec.s"] = _union([(j.submit, j.end) for j in mine])


def _union(intervals) -> float:
    from stats import covered

    if not intervals:
        return 0.0
    return covered(intervals, min(a for a, _ in intervals), max(b for _, b in intervals))
