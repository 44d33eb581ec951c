"""Names and units of every metric the benchmark prints.

End-to-end metrics are printed by untraced runs (``--trace 0``) and mean,
per workload:

- ``setup_s``: the run's cold session set-up: ``build_session``, which
  launches the JVM, plus the generic JVM, Python-worker and Arrow warm-up.
- ``wait_s``: what a user waits for. stream: median file freshness, from a
  file's due time to the end of the micro-batch that committed it, over the
  files due after the steady phase's lead-in.
  query_mix: one pass of the registered queries, the sum of each query's
  end-to-end seconds in its fastest timed pass.
- ``fold_events_per_s``: fold throughput of the path the workload rebuilds a
  view with. stream: backlog events caught up per second after a restart on
  the same checkpoint. query_mix: log events per second of the batch replay
  (``transactions_view_from_log`` written to parquet), in its fastest
  timed pass.
- ``peak_rss_mb``: peak resident memory of the benchmark's process tree
  (driver Python, JVM, Python workers) over the run, sampled from ``/proc``;
  Python processes count their proportional share (PSS), so pages the
  forked Python workers share are counted once.

A run's failed fraction is ``failed / attempted`` of its result line; it is
0 when the engine is right, so it is not a gated metric.

Per-layer metrics are printed by traced runs (``--trace 1``); each workload
prints all of them and a layer the workload bypasses reads 0. The comment on
each group names the end-to-end metric it should move, and where.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "wait_s": "s",
    "fold_events_per_s": "events/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    # session; moves setup_s
    "session.build_s": "s",
    "session.warmup_s": "s",
    # process tree (driver Python, JVM, Python workers), sampled from /proc;
    # moves peak_rss_mb
    "proc.rss_mb": "MB",
    # sources: the intake path (file source + prepare_events filters); moves
    # wait_s and fold_events_per_s on stream
    "sources.rows_raw": "count",
    "sources.rows_skipped": "count",
    "sources.useful_ratio": "ratio",
    "stream.latest_offset_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    # streaming.state_fold + operators.python_fold; moves fold_events_per_s
    # and wait_s on stream
    "state_fold.fold_s": "s",
    "state_fold.events_per_s": "events/s",
    "state_fold.rows_updated": "count",
    "state_fold.state_rows": "count",
    "state_fold.state_bytes": "bytes",
    "state_fold.state_commit_ms": "ms",
    "state_fold.updates_ms": "ms",
    "state_fold.poisoned": "count",
    # streaming.pipeline: bucketed upsert sink and manifest commit; moves
    # wait_s on stream (and catch-up a little)
    "pipeline.merge_s": "s",
    "pipeline.buckets_touched": "count",
    "pipeline.rows_rewritten": "count",
    "pipeline.rewrite_amplification": "ratio",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    # micro-batch engine; moves wait_s on stream
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.batch_s_max": "s",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.backlog_files_max": "count",
    "stream.catchup_s": "s",
    "stream.fresh_p75_s": "s",
    "gen.late_max_s": "s",
    # operators.cdc_fold (batch fold); moves fold_events_per_s on query_mix,
    # and wait_s there through the cdc_* queries
    "cdc_fold.exec_s": "s",
    "cdc_fold.stages": "count",
    "cdc_fold.tasks": "count",
    "cdc_fold.shuffle_bytes": "bytes",
    "cdc_fold.executor_cpu_s": "s",
    # plans.* query builders; moves wait_s on query_mix
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_nodes": "count",
    "plans.scans": "count",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    # exec: Spark execution; moves wait_s on query_mix and fold_events_per_s
    # on both workloads
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
}


def render(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """{name: {"value", "unit"}} for exactly the names in ``units``; a
    missing value is a bug in the workload, not a zero."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
