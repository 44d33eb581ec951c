#!/usr/bin/env python3
"""Layer report from the records that ``run.py`` leaves in ``perfbench/_out``.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 1
    python3 perfbench/report.py

For each workload with a traced record it ranks the layers by self time and
by span count, prints the per-layer metrics, and prints the tracing
overhead: each end-to-end value of the traced run minus the same value of
untraced runs (medians when several seeds were run). On ``query_mix`` it
also shows how much of the mix time ``plans.build_s`` plus ``exec.s``
account for.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _load(out_dir: Path) -> dict[str, dict[int, list[dict]]]:
    """Records by "<workload> local[<cpus>]", then by trace flag."""
    runs: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for p in sorted(out_dir.glob("*.json")):
        rec = json.loads(p.read_text())
        runs[f"{rec['workload']} local[{rec['cpus']}]"][rec["trace"]].append(rec)
    return runs


def _med(recs: list[dict], key: str) -> float:
    xs = [r["end_to_end"][key] for r in recs if key in r["end_to_end"]]
    return statistics.median(xs) if xs else float("nan")


def report(out_dir: Path, only: str | None = None) -> None:
    runs = _load(out_dir)
    if not runs:
        print(f"no records in {out_dir}; run perfbench/run.py first")
        return
    for workload in sorted(runs):
        if only and not workload.startswith(f"{only} "):
            continue
        traced, plain = runs[workload].get(1, []), runs[workload].get(0, [])
        print(f"== {workload}: {len(traced)} traced, {len(plain)} untraced record(s)")
        if not traced:
            print("   (no traced run: run with --trace 1)")
            continue
        selves: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
        for rec in traced:
            for name, (s, n) in rec["self_times"].items():
                if not name.startswith("wait."):
                    selves[name][0] += s / len(traced)
                    selves[name][1] += n / len(traced)
        print("   layers by self time (s per run):")
        for name, (s, n) in sorted(selves.items(), key=lambda kv: -kv[1][0]):
            print(f"     {name:16s} {s:10.3f}")
        print("   layers by span count (per run):")
        for name, (s, n) in sorted(selves.items(), key=lambda kv: -kv[1][1]):
            print(f"     {name:16s} {n:10.1f}")
        print("   per-layer metrics (median over traced runs):")
        keys = sorted(traced[0]["per_layer"])
        for k in keys:
            v = statistics.median(r["per_layer"][k] for r in traced)
            print(f"     {k:34s} {v:16.4f}")
        print("   tracing overhead (traced - untraced, medians):")
        for k in traced[0]["end_to_end"]:
            t, u = _med(traced, k), _med(plain, k)
            rel = (t - u) / u if u else float("nan")
            print(f"     {k:20s} traced {t:12.4f}  untraced {u:12.4f}  diff {t - u:+10.4f} ({rel:+.1%})")
        if workload.startswith("query_mix "):
            build = statistics.median(r["per_layer"]["plans.build_s"] for r in traced)
            exe = statistics.median(r["per_layer"]["exec.s"] for r in traced)
            total_t, total_u = _med(traced, "wait_s"), _med(plain, "wait_s")
            print(
                f"   plans.build_s + exec.s = {build + exe:.4f} s; mix total traced "
                f"{total_t:.4f} s (gap {total_t - build - exe:+.4f}), untraced {total_u:.4f} s "
                f"(tracing overhead {total_t - total_u:+.4f})"
            )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", type=Path, default=HERE / "_out")
    ap.add_argument("--workload")
    args = ap.parse_args(argv)
    report(args.out, args.workload)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
