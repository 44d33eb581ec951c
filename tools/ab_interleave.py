"""Same-session interleaved A/B harness (round-14 measurement protocol).

Binds two implementations of one operator-module attribute alternately in
ONE Spark session, runs the named queries A,B,A,B,... against the noop
sink, discards each side's first run (codegen/JIT warm-up) and reports the
per-side floors. This controls session state, JIT, codegen-cache and host
drift — the confounders that dominate isolated fresh-session comparisons
at sf0.1 (single full-bench runs show ±30-50 % per-query noise on
fingerprint-identical code; see OPTIMIZATION_r14.md).

Usage:
    python tools/ab_interleave.py --old-src /tmp/clustering_r14.py \
        --module pagopa_ecommerce_cdc_service_spark.operators.clustering \
        --attrs kmeans_kn_pruned_fit \
        --rounds 3 e_semdedup_kn_pruned e_kn_pruned_regret_sweep

``--old-src`` is the certified-state module source (e.g. ``git show
HEAD:<path> > /tmp/old.py``); it is loaded under the same package so its
relative imports resolve. ``--attrs`` names the attributes to swap; every
attr must exist in both versions. Side B is the CURRENT working tree.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _load_as(package_module: str, src: str):
    """Load ``src`` as a twin of ``package_module`` (relative imports work)."""
    name = package_module + "_abold"
    spec = importlib.util.spec_from_file_location(name, src)
    mod = importlib.util.module_from_spec(spec)
    mod.__package__ = package_module.rsplit(".", 1)[0]
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--old-src", required=True)
    ap.add_argument("--module", required=True)
    ap.add_argument("--attrs", required=True, help="comma-separated")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    args = ap.parse_args()
    if args.rounds < 1:
        ap.error("--rounds must be >= 1: each side's first run is discarded")
    attrs = args.attrs.split(",")

    target = importlib.import_module(args.module)
    old = _load_as(args.module, args.old_src)
    new_impl = {a: getattr(target, a) for a in attrs}
    old_impl = {a: getattr(old, a) for a in attrs}

    from pagopa_ecommerce_cdc_service_spark.session import build_session

    import __spark_entry__ as entry_mod

    spark = build_session(
        app_name="cdc-spark-ab",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    qs = entry_mod.queries()
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    def run(name: str, impl: dict) -> float:
        for a, fn in impl.items():
            setattr(target, a, fn)
        df = qs[name](spark, args.sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        el = round(time.perf_counter() - t0, 4)
        spark.catalog.clearCache()
        return el

    try:
        for name in args.queries:
            a_runs, b_runs = [], []
            for _ in range(args.rounds + 1):  # +1: first of each discarded
                spark.sparkContext.setJobDescription(f"A(old) {name}")
                a_runs.append(run(name, old_impl))
                spark.sparkContext.setJobDescription(f"B(new) {name}")
                b_runs.append(run(name, new_impl))
            print(
                json.dumps(
                    {
                        "query": name,
                        "old_runs": a_runs,
                        "new_runs": b_runs,
                        "old_floor": min(a_runs[1:]),
                        "new_floor": min(b_runs[1:]),
                        "speedup_floor": round(
                            min(a_runs[1:]) / max(min(b_runs[1:]), 1e-9), 3
                        ),
                    }
                ),
                flush=True,
            )
    finally:
        for a, fn in new_impl.items():
            setattr(target, a, fn)


if __name__ == "__main__":
    main()
