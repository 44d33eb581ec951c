"""Per-query logical-plan fingerprints — the auditable basis for rotating
the driver gate's 50-query certification prefix.

The driver's correctness gate certifies exactly the FIRST 50 registered
queries each round. With more than 50 queries in the suite, some must sit in
the uncertified tail; the rotation policy (documented in
``__spark_entry__.py``) is that a query may occupy a tail slot ONLY if its
behavior is provably unchanged since its last green gate row. "Provably" is
this tool: for every query we hash

- the normalized ANALYZED logical plan built against a fixed session
  (captures the query function AND every helper/operator expression it
  composes, transitively — a change anywhere in the expression tree changes
  the plan text), and
- the DuckDB oracle SQL string.

Identical (plan_sha, oracle_sha) across rounds ⇒ the certified behavior is
byte-identical, so the old green row still applies. Queries that EXECUTE at
build time (streaming gates, iterative label propagation) have no single
static plan — their final DataFrame scans run-local output or checkpoint
RDDs — so they are marked ``runtime`` and are pinned inside the certified
prefix every round instead of ever claiming a tail slot.

Usage:
    python tools/fingerprints.py --out FINGERPRINTS.json
    python tools/fingerprints.py --diff FINGERPRINTS_r02.json FINGERPRINTS.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# Queries whose build runs Spark jobs (file staging, streaming phases,
# iterative convergence loops): no static plan captures their logic, so the
# rotation policy pins them in the certified prefix unconditionally.
RUNTIME_QUERIES = {
    "cdc_stream_incremental_view",  # two streaming phases + restart
    "w_stream_tumbling_hourly",     # stages parquet, runs a stream
    "w_stream_dedup_within_watermark",  # stages parquet, runs a stream
    "t_dup_clusters",               # iterative min-label propagation
    "t_corpus_pipeline",            # composes t_dup_clusters
    "t_bpe_train_merges",           # iterative train loop, per-step collect
    "w_stream_static_enrich",       # stages parquet, runs a stream
    "w_stream_hll_merge",           # stages parquet, runs a stream
    "w_stream_cms_merge",           # stages parquet, runs a stream
    "w_stream_join_click_purchase",  # stages parquet, runs two joined streams
    "w_stream_session_windows",     # stages parquet, runs a stream
    "w_stream_left_join_clicks",    # stages parquet, runs two joined streams
    "w_stream_hist_merge",          # stages parquet, runs a stream
    "t_stream_lsh_pairs",           # stages parquet, runs an incremental-LSH stream
    "t_stream_chunk_dedup",         # stages parquet, runs an incremental chunk-dedup stream
    "t_stream_winnow_pairs",        # stages parquet, runs an incremental winnow-fingerprint stream
    "mm_stream_image_near_dup",     # stages media parquet, runs a two-incarnation band-store stream
    "cdc_bootstrap_handoff",        # sink folds the history as its first commit, then a stream
    "q_schema_evolution_merge",     # stages two parquet generations at build
    "w_stream_anomaly_days",        # stages parquet, runs a streaming count grid
    "w_stream_event_transitions",   # stages parquet, runs a stateful-lag stream
    "cdc_pyds_envelope_feed",       # stages jsonl, runs the Python-datasource stream twice
    "q_bucketed_colocated_join",    # writes bucketed tables at build
    "w_partition_pruned_day",       # writes partitioned layout at build
    "q_zorder_box_scan",            # writes z-ordered layout at build
    "t_entity_golden_record",       # iterative min-label CC (convergence counts)
    "t_stream_stratified_sample",   # stages parquet, runs two quota-store incarnations
    "mm_stream_audio_near_dup",     # stages media parquet, runs a two-incarnation band-store stream
    "t_density_clusters",           # iterative min-label CC on the core-core subgraph
    "t_chunk_keepone_rewrite",      # eagerly materializes the drop table (one count)
    "w_stream_cusum",               # stages parquet, runs a streaming count grid
    "cdc_stream_field_lineage",     # two streaming phases + restart (lineage state)
    "t_corpus_pipeline_keepone",    # eager localCheckpoint pins (rewrite drops + assigned)
    "cdc_stream_status_history",    # two streaming phases + restart (interval state)
    "e_ivf_opq_nprobe_curve",       # eager localCheckpoint pins (codes/lut/lists/truth)
    "w_stream_rolling_dau_wau",     # stages parquet, runs a streaming (user, day) grid
    "e_semdedup_keepone",           # iterative min-label CC over the semantic pair graph
    "w_stream_markov_stationary",   # stages parquet, runs a stateful-lag stream
    "t_wminhash_keepone",           # iterative min-label CC over the weighted pair graph
    "w_stream_ols_daily_trend",     # stages parquet, runs a streaming count grid
    "w_stream_pearson_daily",       # stages parquet, runs a streaming (type,day,user) grid
    "w_stream_hourly_seasonality",  # stages parquet, runs a streaming (dow,hod,user) grid
    "t_stream_perplexity_buckets",  # stages parquet, runs a two-incarnation token-census stream
    "t_stream_lang_fertility",  # stages parquet, runs a two-incarnation per-doc score stream
    "t_stream_lang_quality_mix",  # stages parquet, runs a two-incarnation score+census stream
    "t_stream_lang_temperature_mix",  # stages parquet, runs a two-incarnation census-only stream
    "e_semdedup_kn_pruned_keepone",  # iterative min-label CC over the pruned-kn pair graph
}

_NORMALIZERS = (
    (re.compile(r"#\d+"), "#N"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(file:)?/tmp/[^\s,\)\]\*]*"), "<TMP>"),  # gate workdirs
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),          # JVM object addresses
    # higher-order-function lambda variables get PROCESS-GLOBAL counters
    # (x_123, acc_124): the number depends on how many lambdas the session
    # built before this query, not on the query itself — normalize it
    (re.compile(r"\b([A-Za-z][A-Za-z0-9]*)_\d+\b"), r"\1_N"),
)


def _normalize(plan: str) -> str:
    for rx, sub in _NORMALIZERS:
        plan = rx.sub(sub, plan)
    return plan


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .appName("fingerprints")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def write_legacy_events_twin(sf_dir: str, out_dir: str) -> str:
    """Materialize a twin of ``sf_dir`` whose ``events.parquet`` uses the
    r02-era physical encoding (INT64 TIMESTAMP(NANOS) → read as bigint under
    ``nanosAsLong``).

    The driver regenerates testdata between rounds and switched events.ts
    from nanos to MICROS-NTZ, which changes the ingest projection in every
    event query's analyzed plan (``plans/helpers.read``). Fingerprints are
    PLAN hashes, so that re-encode alone would mark every event query
    "drifted" with zero code change. The twin lets the rotation audit replay
    a tail query's plan against the certified-era encoding: if current code
    reproduces the snapshot hash on the old encoding, the code is provably
    unchanged — the only delta is the driver's re-encode, which Spark and
    the DuckDB oracle both read (full parity re-checked every round in
    tests/test_oracle_parity.py).

    Only schemas matter for plan analysis, so the twin's events table is
    empty; other tables are symlinked.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    src = Path(sf_dir)
    for p in src.glob("*.parquet"):
        dst = out / p.name
        if dst.exists():
            continue
        if p.name != "events.parquet":
            dst.symlink_to(p)
    events = out / "events.parquet"
    if not events.exists():
        real = pq.read_schema(str(src / "events.parquet"))
        fields = [
            pa.field("ts", pa.timestamp("ns")) if f.name == "ts" else f
            for f in real
        ]
        schema = pa.schema(fields)
        pq.write_table(schema.empty_table(), str(events))
    return str(out)


def compute(sf_dir: str = "/root/testdata/sf0.001") -> dict[str, dict]:
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    spark = _session()
    out: dict[str, dict] = {}
    for name, fn in queries.items():
        rec: dict = {"runtime": name in RUNTIME_QUERIES}
        if rec["runtime"]:
            rec["plan_sha"] = None
        else:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().analyzed().toString()
            rec["plan_sha"] = _sha(_normalize(plan))
        osql = oracles.get(name)
        rec["oracle_sha"] = _sha(osql) if osql is not None else None
        out[name] = rec
    return out


def diff(old: dict[str, dict], new: dict[str, dict]) -> dict[str, list[str]]:
    changed, added, removed, unchanged = [], [], [], []
    for name, rec in new.items():
        if name not in old:
            added.append(name)
        elif rec["runtime"] or old[name].get("runtime"):
            changed.append(name)  # runtime ⇒ never claim "unchanged"
        elif (rec["plan_sha"], rec["oracle_sha"]) != (
            old[name]["plan_sha"],
            old[name]["oracle_sha"],
        ):
            changed.append(name)
        else:
            unchanged.append(name)
    removed = [n for n in old if n not in new]
    return {
        "changed_or_runtime": changed,
        "added": added,
        "removed": removed,
        "unchanged": unchanged,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="write fingerprints JSON here")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"),
                    help="diff two fingerprint files instead of computing")
    args = ap.parse_args()
    if args.diff:
        old = json.loads(Path(args.diff[0]).read_text())
        new = json.loads(Path(args.diff[1]).read_text())
        print(json.dumps(diff(old, new), indent=2))
        return
    fps = compute(args.sf_dir)
    text = json.dumps(fps, indent=2, sort_keys=True)
    if args.out:
        Path(args.out).write_text(text + "\n")
        print(f"wrote {args.out} ({len(fps)} queries)")
    else:
        print(text)


if __name__ == "__main__":
    main()
