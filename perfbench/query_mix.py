"""The ``query_mix`` workload: one closed-loop client running batch jobs.

Jobs are the batch replay of a fixed CDC log (``transactions_view_from_log``
written to parquet) and a mix of registered queries from
``__spark_entry__.queries()`` over the fixed tables in ``data/sf0.001``.
The inputs are the same for every seed; the seed only orders the check pass.

1. Check pass (untimed, in an order drawn from the seed): every query's
   result is collected and compared with its DuckDB ``oracle_sql()`` under
   the engine's own normalisation; the replay's parquet output is read back
   and compared with what the generator knows about the log. The pass also
   warms the session.
2. Warm pass (untimed): every job once more, exactly as it is timed.
3. Timed passes: one full pass over the jobs, in a fixed order, per
   ``SECONDS_PER_PASS`` of ``--seconds``, and at least ``MIN_PASSES``. The
   count does not depend on how fast the passes run: with a deadline a fast
   run got more passes, and so a lower fastest pass. A query is timed from the call to ``queries()[name]`` through a ``noop``
   write, with ``clearCache`` between jobs. Each job runs in a Spark job
   group of its own, which attributes the event log's jobs to it.

Each job's value is its fastest timed pass. The noise in these timings only
ever adds time: a shared host takes cores away for tens of seconds at a
time, and the JIT is still compiling during the first passes. The median of
three passes took a pass from the middle of either, and it spread across
runs by as much as the host's contention did.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from pathlib import Path

import gen
from tracing import job_totals, jobs_in_group, jobs_within

DATA = Path(__file__).resolve().parent / "data" / "sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# One or two queries per engine path: the batch CDC fold, and a join with
# exchanges and broadcasts. More queries would leave time for fewer passes,
# and a job needs three to have one pass clear of the JIT's warm-up and of
# the host's slow spells.
QUERIES = (
    "cdc_transactions_view",
    "cdc_field_lineage",
    "q3_shipping_priority",
)
REPLAY = "replay"
# One pass: the replay runs twice, because its times spread the most.
PASS = (REPLAY, QUERIES[0], QUERIES[1], REPLAY, QUERIES[2])
REPLAY_SEED = 0
REPLAY_TX = 2000
REPLAY_FILES = 16
MIN_PASSES = 3
SECONDS_PER_PASS = 6.5  # about one pass's time on a 4-core host


def _plan_stats(df) -> dict[str, int]:
    """Size of the physical plan as Spark prints it."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return {
        "plan_nodes": len(lines),
        "scans": sum(1 for ln in lines if "Scan " in ln),
        "exchanges": sum(1 for ln in lines if "Exchange " in ln and "Broadcast" not in ln),
        "broadcasts": sum(1 for ln in lines if "BroadcastExchange" in ln),
    }


class _Mix:
    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.spark = ctx.spark
        self.sf = str(DATA)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.log = gen.backlog_log(REPLAY_SEED, REPLAY_TX, REPLAY_FILES)
        self.src = ctx.work / "replay-src"
        self.out = str(ctx.work / "replay-out")
        self.src.mkdir()
        for f in self.log.files:
            gen.write_file(str(self.src / f.name), f)

    # -- the jobs ----------------------------------------------------------
    def replay(self, trace: str) -> None:
        from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import transactions_view_from_log
        from pagopa_ecommerce_cdc_service_spark.schemas import EVENT_ENVELOPE_TYPE

        tr = self.ctx.tracer
        with tr.span("cdc_fold", trace):
            raw = self.spark.read.schema(EVENT_ENVELOPE_TYPE).json(str(self.src))
            view = transactions_view_from_log(raw)
        with tr.span("exec", trace):
            view.write.mode("overwrite").parquet(self.out)

    def query(self, name: str, trace: str):
        tr = self.ctx.tracer
        with tr.span("plans", trace):
            df = self.queries[name](self.spark, self.sf)
        with tr.span("exec", trace):
            df.write.format("noop").mode("overwrite").save()
        return df

    # -- correctness -------------------------------------------------------
    def check(self, name: str, duck) -> None:
        ctx = self.ctx
        if name == REPLAY:
            self.replay("check")
            got = self.spark.read.parquet(self.out).select("transactionId", "lastProcessedEventAt").collect()
            lpea = {r[0]: r[1] for r in got}
            if len(got) != len(lpea) or lpea != self.log.expected:
                ctx.fail(
                    f"replay output differs from the generator's view "
                    f"({len(got)} rows vs {len(self.log.expected)} transactions)"
                )
            return
        from pagopa_ecommerce_cdc_service_spark.__main__ import _normalize

        got = _normalize(self.queries[name](self.spark, self.sf).toPandas())
        want = _normalize(duck.execute(self.oracles[name]).df())
        if got != want:
            ctx.fail(f"{name}: result differs from its DuckDB oracle ({len(got[1])} vs {len(want[1])} rows)")


def run(ctx) -> None:
    import duckdb

    mix = _Mix(ctx)
    spark = ctx.spark
    jobs = [REPLAY, *QUERIES]
    missing = [q for q in QUERIES if q not in mix.queries or q not in mix.oracles]
    if missing:
        ctx.fail(f"queries not registered with an oracle: {missing}", len(missing))
        jobs = [j for j in jobs if j not in missing]

    # 1. check pass, seed-ordered
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
    order = list(jobs)
    random.Random(ctx.args.seed).shuffle(order)
    ok = set()
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False  # not measured
    for name in order:
        ctx.attempted += 1
        n_failed = ctx.failed
        try:
            mix.check(name, duck)
            if ctx.failed == n_failed:
                ok.add(name)
        except Exception as exc:  # noqa: BLE001 - one broken query must not end the run
            traceback.print_exc(file=sys.stderr)
            ctx.fail(f"{name} (check pass): {type(exc).__name__}: {str(exc)[:300]}")
        spark.catalog.clearCache()
    duck.close()
    jobs = [j for j in PASS if j in ok]
    ctx.mark("check pass")

    # 2. warm pass, as timed but not measured
    for name in jobs:
        if name == REPLAY:
            mix.replay("warm")
        else:
            mix.query(name, "warm")
        spark.catalog.clearCache()
    ctx.tracer.enabled = traced
    ctx.mark("warm pass")

    # 3. timed passes
    samples: dict[str, list[float]] = {j: [] for j in jobs}
    plans: dict[str, dict] = {}
    sc = spark.sparkContext
    n_passes = max(MIN_PASSES, round(ctx.args.seconds / SECONDS_PER_PASS))
    i = 0
    while i < n_passes * len(jobs):
        name = jobs[i % len(jobs)]
        trace = f"{name}#{len(samples[name])}"
        sc.setJobGroup(trace, name)
        ctx.attempted += 1
        try:
            with ctx.tracer.span("job", trace, job=name):
                t0 = time.perf_counter()
                if name == REPLAY:
                    mix.replay(trace)
                else:
                    df = mix.query(name, trace)
                t1 = time.perf_counter()
            samples[name].append(t1 - t0)
            if ctx.tracer.enabled and name != REPLAY and name not in plans:
                plans[name] = _plan_stats(df)
        except Exception as exc:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            ctx.fail(f"{trace}: {type(exc).__name__}: {str(exc)[:300]}")
        sc.setJobGroup("perfbench", "between jobs")
        spark.catalog.clearCache()
        i += 1

    per_query = {q: min(samples[q]) for q in jobs if q != REPLAY and samples[q]}
    replay = samples.get(REPLAY) or []
    replay_s = min(replay) if replay else float("nan")
    ctx.e2e["wait_s"] = sum(per_query.values()) if per_query else float("nan")
    ctx.e2e["fold_events_per_s"] = mix.log.n_events / replay_s
    n = min((len(v) for v in samples.values()), default=0)
    ctx.note("mix_total_s", ctx.e2e["wait_s"], "s", n * len(per_query))
    ctx.note("replay_events_per_s", ctx.e2e["fold_events_per_s"], "events/s", len(replay))
    ctx.note("replay_s", replay_s, "s", len(replay))
    for q, s in per_query.items():
        ctx.note(f"q.{q}", s, "s", len(samples[q]))
    ctx.data = {"samples": samples, "plans": plans}
    ctx.detail = {"samples_s": {k: [round(x, 4) for x in v] for k, v in samples.items()}}


def layer_metrics(ctx, jobs) -> None:
    L = ctx.layer
    spans = ctx.tracer.spans
    samples = ctx.data["samples"]
    by_trace: dict[str, dict[str, list]] = {}
    for s in spans:
        by_trace.setdefault(s.trace, {}).setdefault(s.name, []).append(s)

    def best(name: str, layer: str):
        """(seconds, jobs inside) of one layer's span in the job's fastest
        pass, the pass its end-to-end value comes from. A pass's jobs are
        those of its job group, split between layers by submission time."""
        xs = samples[name]
        trace = f"{name}#{xs.index(min(xs))}"
        mine = jobs_in_group(jobs, trace)
        s = by_trace[trace][layer][0]
        return s.end - s.start, jobs_within(mine, s.start, s.end)

    build_s = build_jobs = exec_s = 0.0
    exec_tot: dict[str, float] = {}
    for q in samples:
        if q == REPLAY or not samples[q]:
            continue
        b_s, b_jobs = best(q, "plans")
        e_s, e_jobs = best(q, "exec")
        build_s += b_s
        build_jobs += len(b_jobs)
        exec_s += e_s
        for k, v in job_totals(e_jobs).items():
            exec_tot[k] = exec_tot.get(k, 0.0) + v
    L["plans.build_s"] = build_s
    L["plans.build_jobs"] = build_jobs
    for k in ("plan_nodes", "scans", "exchanges", "broadcasts"):
        L[f"plans.{k}"] = sum(p[k] for p in ctx.data["plans"].values())
    L["exec.s"] = exec_s
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s"):
        L[f"exec.{k}"] = exec_tot.get(k, 0.0)

    if samples.get(REPLAY):
        r_s, r_jobs = best(REPLAY, "exec")
    else:
        r_s, r_jobs = 0.0, []
    tot = job_totals(r_jobs)
    L["cdc_fold.exec_s"] = r_s
    L["cdc_fold.stages"] = tot["stages"]
    L["cdc_fold.tasks"] = tot["tasks"]
    L["cdc_fold.shuffle_bytes"] = tot["shuffle_bytes"]
    L["cdc_fold.executor_cpu_s"] = tot["executor_cpu_s"]

    for k in (
        "sources.rows_raw", "sources.rows_skipped", "sources.useful_ratio",
        "stream.latest_offset_ms_p50", "stream.get_batch_ms_p50",
        "state_fold.fold_s", "state_fold.events_per_s", "state_fold.rows_updated",
        "state_fold.state_rows", "state_fold.state_bytes", "state_fold.state_commit_ms",
        "state_fold.updates_ms", "state_fold.poisoned",
        "pipeline.merge_s", "pipeline.buckets_touched", "pipeline.rows_rewritten",
        "pipeline.rewrite_amplification", "pipeline.files_written", "pipeline.bytes_written",
        "stream.batches", "stream.batch_s_p50", "stream.batch_s_max", "stream.add_batch_ms_p50",
        "stream.query_planning_ms_p50", "stream.wal_commit_ms_p50", "stream.commit_offsets_ms_p50",
        "stream.backlog_files_max", "stream.catchup_s", "stream.fresh_p75_s", "gen.late_max_s",
    ):
        L[k] = 0.0
