#!/usr/bin/env python3
"""End-to-end benchmark of the CDC engine: one workload, one seed, one result.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``stream``: the maintained view. A small history is folded, then a
  backlog arrives while the query is down and ``start_view_maintenance``
  restarts on the same checkpoint and drains it (catch-up), then an open
  loop drops one file per tick for a short lead-in plus ``--seconds``
  (steady traffic).
- ``query_mix``: one closed-loop client running the batch replay
  (``transactions_view_from_log`` to parquet) and a mix of registered
  queries over the fixed tables in ``perfbench/data``, in a fixed number of
  timed passes (one per 6.5 s of ``--seconds``); each job counts its fastest
  pass.

Every run sets the session up from a cold start (a new JVM), measures, and
checks the engine's outputs outside the timed region. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``; per-layer metrics with
``--trace 1``, which also turns Spark's event log on and records spans).
A readable summary goes to standard error, and the full record (both metric
sets, spans) to ``perfbench/_out/``.

Exits 2 without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

_T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
from tracing import RssSampler, Tracer, read_event_log  # noqa: E402

WORKLOADS = ("stream", "query_mix")
# local[N] per workload: two task threads, so that the Python workers, the
# driver, the JIT and the garbage collector keep cores of their own on a
# 4-core host. With a task thread on every core each stage waited on
# whichever core one of them (or the host) took, and times spread twice as
# wide.
CPUS = {"stream": 2, "query_mix": 2}
# The session's JVM heap, fixed so that memory figures compare across hosts
# and runs; the workloads' data is small. The heap is also committed and
# touched at JVM start, so resident memory does not follow the garbage
# collector's heap sizing and peak_rss_mb measures what grows outside it
# (off-heap and Arrow buffers, Python workers).
DRIVER_MEM = "2g"


@dataclass
class Context:
    """What a workload gets: the live session and everything it records into."""

    args: argparse.Namespace
    work: Path
    tracer: Tracer
    spark: object = None
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    summary: list = field(default_factory=list)  # (name, value, unit, samples)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    data: dict = field(default_factory=dict)  # workload state for layer_metrics
    detail: dict = field(default_factory=dict)  # raw samples, saved with the record

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)
        print(f"[perfbench] FAILED: {what}", file=sys.stderr, flush=True)

    def note(self, name: str, value: float, unit: str, samples: int) -> None:
        self.summary.append((name, value, unit, samples))

    def mark(self, what: str) -> None:
        """Log progress with the seconds since the process started."""
        print(f"[perfbench] {time.perf_counter() - _T_START:7.2f}s {what}", file=sys.stderr, flush=True)


def _session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        # keep every byte the engine writes inside the work directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            # collector threads to match the task threads, not the host
        ),
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the steady phase maps files to batches from the progress history
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
            }
        )
    return conf


def _warm_up(spark, cpus: int) -> None:
    """Generic JVM, Python-worker and Arrow warm-up (no engine query)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    (
        spark.range(cpus * 4, numPartitions=cpus)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    (
        spark.range(cpus * 8, numPartitions=cpus)
        .selectExpr("id", "CAST(repeat('x', 262144) AS BINARY) AS payload")
        .mapInPandas(lambda it: it, "id long, payload binary")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, so the next set-up is cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(ctx: Context) -> None:
    """One cold set-up: ``build_session``, which launches the JVM, plus the
    warm-up. A second cold set-up would cost as much again in every run."""
    from pagopa_ecommerce_cdc_service_spark.session import build_session

    cpus = ctx.args.cpus
    with ctx.tracer.span("session", "setup"):
        t0 = time.perf_counter()
        ctx.spark = build_session(
            app_name="cdc-perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=_session_conf(ctx.work, bool(ctx.args.trace)),
        )
        t1 = time.perf_counter()
        with ctx.tracer.span("warmup", "setup"):
            _warm_up(ctx.spark, cpus)
        t2 = time.perf_counter()
    ctx.e2e["setup_s"] = t2 - t0
    ctx.layer["session.build_s"] = t1 - t0
    ctx.layer["session.warmup_s"] = t2 - t1
    ctx.note("setup_s", t2 - t0, "s", 1)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int,
        help="local[N] cores (default: the workload's, at most nproc)",
    )
    args = ap.parse_args(argv)
    if args.cpus is None:
        args.cpus = min(CPUS[args.workload], os.cpu_count() or 4)
    return args


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "pagopa_ecommerce_cdc_service_spark").is_dir() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"[perfbench] no engine source under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True)
    # Python-side temp files and the worker processes follow the driver
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # no hsperfdata file under /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import pagopa_ecommerce_cdc_service_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"[perfbench] cannot import the engine: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    ctx = Context(args=args, work=work, tracer=Tracer(bool(args.trace)))
    rss = RssSampler().start()
    result = None
    try:
        set_up(ctx)
        ctx.mark("set up")
        if args.workload == "stream":
            import stream as wl
        else:
            import query_mix as wl
        wl.run(ctx)
        ctx.mark("measured and checked")
        app_id = ctx.spark.sparkContext.applicationId
        _stop_jvm(ctx.spark)
        ctx.spark = None
        rss.stop()
        ctx.e2e["peak_rss_mb"] = rss.peak_mb
        ctx.layer["proc.rss_mb"] = rss.median_mb
        ctx.note("peak_rss_mb", rss.peak_mb, "MB", len(rss.samples))
        if args.trace:
            jobs = read_event_log(str(work / "eventlog"), app_id)
            wl.layer_metrics(ctx, jobs)
            selves = ctx.tracer.self_times()
        else:
            selves = {}
        units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
        rendered = metrics.render(ctx.layer if args.trace else ctx.e2e, units)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": rendered,
        }
        _report(ctx, selves)
        _save(ctx, selves)
        ctx.mark("done")
    except Exception:  # noqa: BLE001 - the run boundary: report, no result
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            try:
                _stop_jvm(ctx.spark)
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _report(ctx: Context, selves: dict) -> None:
    a = ctx.args
    out = sys.stderr
    print(f"[perfbench] workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} cpus={a.cpus}", file=out)
    for name, value, unit, n in ctx.summary:
        print(f"  {name:24s} {value:14.4f} {unit:9s} n={n}", file=out)
    frac = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"  {'failed_frac':24s} {frac:14.4f} {'ratio':9s} n={ctx.attempted}", file=out)
    print(f"  correctness: {'OK' if ctx.failed == 0 else 'FAILED'}", file=out)
    for p in ctx.problems[:20]:
        print(f"    - {p}", file=out)
    if selves:
        print("  self time by span (s, count):", file=out)
        for name, (s, n) in sorted(selves.items(), key=lambda kv: -kv[1][0]):
            if not name.startswith("wait."):  # waits, not layers
                print(f"    {name:22s} {s:10.3f} {n:6d}", file=out)
    out.flush()


def _save(ctx: Context, selves: dict) -> None:
    a = ctx.args
    out_dir = HERE / "_out"
    out_dir.mkdir(exist_ok=True)
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "cpus": a.cpus,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "problems": ctx.problems,
        "end_to_end": ctx.e2e,
        "per_layer": ctx.layer,
        "summary": [list(s) for s in ctx.summary],
        "detail": ctx.detail,
        "self_times": {k: list(v) for k, v in selves.items()},
        "spans": ctx.tracer.dump(),
    }
    path = out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}-cpus{a.cpus}.json"
    path.write_text(json.dumps(record, indent=1, default=str))


if __name__ == "__main__":
    sys.exit(main())
