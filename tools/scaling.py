"""Scale-up study: replicate testdata 10x (sf0.1 -> "sf1") and measure how
the headline plans' wall-clock grows vs the data.

The driver ships sf0.001/0.01/0.1 only; the 100 TB claim rests on plan
shape. This tool adds MEASURED evidence: it synthesizes an sf1-equivalent
dataset by replicating sf0.1 with key offsets (event/user/vector ids shifted
per replica so keyed structure — sessions per user, top-k candidates,
fold groups — replicates instead of collapsing), then times a
representative query slice at all three scales on the same local[N] session.

Replication choices:
- events: event_id and user_id offset per replica; timestamps unchanged, so
  the corpus keeps its 30-day span at 10x density — windows/sessions see 10x
  groups of identical per-group size, the scale-up shape a cluster sees.
- lineitem: l_orderkey offset (q1 never joins; the scan/agg is the subject).
- embeddings: vec_id offset; vectors repeat, which leaves top-k scan cost
  intact (scoring dominates; duplicate scores are fine for timing).
- documents are replicated PERTURBED, not verbatim: every second token of
  each replica gets a replica-specific suffix (deterministic, ~50% token
  churn → Jaccard vs the original ≈ 1/3, far below the LSH threshold), so
  replicas do NOT register as near-dups of each other. The 10x corpus then
  carries 10x copies of the original's near-dup structure — pair output
  scales linearly, the true scale-up shape — instead of a quadratic
  verbatim-clone pair graph, which would be a different workload.
- skew stress: a second sf1 events variant reassigns replica 0's rows
  (~10% of all events) to ONE hot user — under the envelope synthesis
  (plans/cdc_view.py:127, transactionId = user-eventid%3) that lands ~10%
  of the log on 3 hot transactionIds. The CDC fold is re-timed on the
  skewed decade; staying within ~2x of the uniform decade shows the
  single-exchange fold + AQE absorbs a 10%-hot key without salting.

A `_build_manifest.json` in the output dir records (replicas, offset,
scheme, per-table source mtimes); any disagreement wipes and rebuilds the
dataset, so a config or source-data change can never silently reuse a
stale replica (the per-table _SUCCESS marker only guards truncation).

Usage:
    python tools/scaling.py --out /tmp/spark_graft_sf1 [--runs 2]
Prints one JSON line per (query, sf) with warm seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

REPLICAS = 10
OFFSET = 10_000_000  # beyond every real key in sf0.1
SCHEME = 3  # bump when the replication recipe changes (forces rebuild)
HOT_USER = 99_999_999  # skew variant: replica 0's rows all land here

QUERIES = (
    "cdc_transactions_view",   # CDC fold: window + 20-field groupBy, 1 shuffle
    "q1_pricing_summary",      # pure scan + hash agg
    "w_session_windows",       # native session_window groupBy
    "w_hist_quantiles",        # bounded-grid quantile sketch
    "e_mips_topk",             # map-only scoring + TakeOrderedAndProject
    "t_minhash_lsh_pairs",     # banded near-dup join over the 10x corpus
    "t_tfidf_topterms",        # explode + term-df join + doc window
    "t_boilerplate_ngrams",    # single-pass gram window + doc agg
    "t_content_chunks",        # rolling-hash chunking, pure flatMap
    "t_inverted_index",        # one explode + one (term, doc) exchange
    "e_gram_matrix",           # fixed 64x64 output at any corpus size
    "t_chunk_dedup_rewrite",   # narrow-key ranking + broadcast rebuild
    # round-7 additions
    "e_pca_top2",              # one gram exchange + in-row iteration chain
    "t_chunk_rewrite_long",    # Arrow chunk+rebuild kernels on >8KiB docs
    "e_filtered_recall",       # filtered exact scan + probed-list scan
    "t_corpus_pipeline_chunked",  # rewrite -> split -> pack composition
    "t_chunk_containment",     # df-capped chunk-set inclusion join
    "t_pair_quality_keeper",   # LSH pairs + two narrow quality joins
    "e_rq_topk",               # broadcast 2-level codebooks, map-only encode
    "mm_audio_near_dup",       # Arrow frame energies + pigeonhole bands
    # round-7 (seventh-ninth passes)
    "w_ols_daily_trend",       # corpus -> bounded grid reduce, stats on grid
    "t_label_prop",            # banded pair graph + 3-round keyed LPA unroll
    "t_rake_keywords",         # explode + per-doc window + keyed aggs + topk
    "t_record_linkage",        # nation-blocked two-registry equi-join
    # round-7 (tenth-eleventh passes)
    "cdc_status_history",      # SCD2 intervals: fold window + lead()
    "e_cluster_outliers",      # k-means subtree + per-cluster distance rank
    "t_exact_substr_spans",    # positional gram postings + islands merge
    "t_unigram_surprisal",     # token explode x2 + vocab join + doc agg
    "w_interval_overlap_join", # session islands + bucketed broadcast join
    "t_stratified_sample",     # one stratum exchange, two shared windows
    "t_entity_golden_record",  # blocked linkage graph + iterative CC
    "e_kcenter_coreset",       # FPS: k map-only passes + top-1 per round
    # round-8 additions
    "t_exact_substr_rewrite",  # span postings + narrow join-back rebuild
    "t_exact_substr_keepone",  # same shape, row_number hit law
    "t_bigram_surprisal",      # bigram explode + three count joins
    "e_kcenter_assign",        # FPS chain + one fold-assignment pass
    "cdc_pit_status",          # union + last-non-null window, zero joins
    "e_silhouette",            # Lloyd's chain + in-row rival-centroid fold
    "w_session_paths",         # session windows + bounded path census
    "t_zipf_fit",              # vocab agg + TakeOrdered head + one-row OLS
    "t_ngram_novelty",         # gram postings + min-doc window + doc census
    "e_mmr_topk",              # one corpus pass + pinned 16-row selection
    "e_rand_stability",        # two Lloyd's chains + k^2 contingency
    "e_ivf_nprobe_curve",      # pinned lists; 3 probed scans + exact truth
    "e_centroid_shift",        # Lloyd's chain + k-row delta join
    "t_char_entropy",          # char census x2, window-shared partitioning
    "e_pq_distortion",         # PQ training chain + 8-key error census
    "w_rolling_dau_wau",       # bounded (user, day) grid + 7x fan-out
    "t_vocab_growth",          # one token exchange + 10-row broadcast fan
    "t_source_distinctive_terms",  # token census + bounded-key lift joins
    "t_simhash_hamming_hist",  # banded candidate join -> 61-bin census
    "w_markov_stationary",     # 1 corpus exchange + 10 bounded-table joins
    "w_hourly_seasonality",    # 168-cell grid, one scan
    "e_norm_histogram",        # <=64-bucket census, one scan
    # round-9 additions
    "t_density_clusters",      # degree census + CC on core-core subgraph
    "cdc_field_lineage",       # single-exchange fold + per-field lineage maxes
    "t_chunk_keepone_rewrite",  # quality join + ranking window + rebuild
    "e_opq_topk",              # 64-row variance stats + permuted PQ chain
    "e_opq_distortion_delta",  # two PQ trainings, one-row delta
    "e_semdedup_pair_recall_sampled",  # anchor x corpus LINEAR ground truth
    # round-9 (second/third passes)
    "w_cusum_changepoint",     # one count agg + three bounded-grid windows
    "e_opq_recall",            # permuted PQ chain + exact single-query GT
    "q_cube_revenue",          # 4-set grouping lattice, one pass
    "e_bq_topk",               # 2-word sign-bit codes, 64x less scan than SQ8
    "e_bq_recall",             # BQ chain + exact single-query GT
    "t_wminhash_pairs",        # df-weighted banded near-dup, never all-pairs
    # round-10 additions (streaming twins measure via their pytest gates,
    # not here — the decade set times batch plans)
    "e_ivf_opq_topk",          # perm broadcast + probed-list permuted ADC scan
    "e_ivf_opq_recall",        # IVF-OPQ chain + exact single-query GT
    "t_corpus_pipeline_keepone",  # keep-one rewrite -> split -> pack
    # round-10 continuation
    "e_ivf_opq_nprobe_curve",  # ONE permuted training, 3 probed ADC scans
    "e_semdedup_kn",           # adaptive-k Lloyd's + within-cluster pairs
    "e_pcapq_topk",            # PC1 fixed point + permuted PQ chain
    "e_pcapq_distortion_delta",  # two permuted trainings, one-row delta
    "e_semdedup_kn_pruned",    # pivot-pruned adaptive-k: P + k/P per vector
    "t_lang_fertility",        # lang argmax + regex census, |langs| output
    "t_perplexity_buckets",    # surprisal chain + bounded score-grid census
    # round-11 additions
    "e_semdedup_kn_pruned_keepone",  # pruned pair set + CC on the pair graph
    "e_ivf_opq_tuning_grid",   # ONE permuted training, 1 ADC pass, 9 cells
    "t_lsh_band_sweep",        # 3 band plans off one shingle/signature pass
    "e_kn_pruned_vs_flat_delta",  # pruned chain + one exact assignment pass
    "t_pack_capacity_curve",   # one shard cumsum window, three integer arms
    "t_lang_quality_mix",      # lang argmax + surprisal + bounded tercile cuts
    # round-12 additions
    "t_lsh_band_sweep_sampled",  # fixed-size md5 sample: decade-flat by design
    "t_pack_capacity_train",   # rewrite -> split -> train cumsum, three arms
    "e_kn_pruned_regret_sweep",  # 3 pruned chains + sampled exact arms
    # round-13 additions
    "e_ivf_split_rebalance",   # two broadcast folds + bounded-key censuses
    "e_decontaminate_semantic",  # pivot fold + broadcast eval-probe join
    "e_ivf_rebalanced_topk",   # layout chain + probed top-5 serving head
    "t_lang_temperature_mix",  # lang census + |langs|-row allocation math
    # round-14 additions
    "e_decontaminated_split",  # decon scan chain + per-row hash split census
    "e_contamination_report",  # same chain, aggregation key flipped to eval
    "t_train_mix_manifest",    # per-doc join tree -> |langs| census + alloc
)


def _source_mtimes(src: str, tables) -> dict[str, int]:
    out = {}
    for name in tables:
        p = Path(src) / f"{name}.parquet"
        out[name] = max(
            (f.stat().st_mtime_ns for f in p.rglob("*") if f.is_file()),
            default=0,
        ) if p.is_dir() else p.stat().st_mtime_ns
    return out


_ALL_TABLES = ("events", "lineitem", "embeddings", "documents", "orders",
               "customer", "part", "supplier", "nation", "region")


def _expected_manifest(src: str) -> dict:
    return {
        "replicas": REPLICAS,
        "offset": OFFSET,
        "scheme": SCHEME,
        "hot_user": HOT_USER,
        "tables": _source_mtimes(src, _ALL_TABLES),
    }


def build_sf1(spark, src: str, dest: str) -> None:
    import shutil

    from pyspark.sql import functions as F

    from pagopa_ecommerce_cdc_service_spark.plans.helpers import read

    os.makedirs(dest, exist_ok=True)
    # stale-reuse guard (see module docstring): wipe on any config/source
    # disagreement — the _SUCCESS markers below only guard truncation
    manifest_path = Path(dest) / "_build_manifest.json"
    expected = _expected_manifest(src)
    current = None
    if manifest_path.exists():
        try:
            current = json.loads(manifest_path.read_text())
        except Exception:
            current = None
    if current != expected:
        for child in Path(dest).iterdir():
            shutil.rmtree(child) if child.is_dir() else child.unlink()

    def replicated(df: "DataFrame", keys) -> "DataFrame":
        k = F.explode(F.array(*[F.lit(i) for i in range(REPLICAS)])).alias("_r")
        rep = df.select("*", k)
        for col in keys:
            rep = rep.withColumn(col, F.col(col) + F.col("_r") * F.lit(OFFSET))
        return rep

    def write_if_absent(name: str, builder) -> None:
        out = f"{dest}/{name}.parquet"
        # require the commit marker: a bare exists() would silently reuse a
        # truncated dataset left by a killed earlier run
        if os.path.exists(f"{out}/_SUCCESS"):
            return
        builder().write.mode("overwrite").parquet(out)

    write_if_absent(
        "events",
        lambda: replicated(read(spark, src, "events"), ["event_id", "user_id"]).drop("_r"),
    )
    write_if_absent(
        "lineitem",
        lambda: replicated(read(spark, src, "lineitem"), ["l_orderkey"]).drop("_r"),
    )
    write_if_absent(
        "embeddings",
        lambda: replicated(read(spark, src, "embeddings"), ["vec_id"]).drop("_r"),
    )

    def perturbed_documents():
        # replica-specific token suffix on every 2nd token: deterministic,
        # heavy enough (~50% churn) that replicas are NOT near-dups of each
        # other, so the near-dup pair structure replicates linearly
        rep = replicated(read(spark, src, "documents"), ["doc_id"])
        toks = F.split(F.col("text"), " ")
        # replica 0 stays verbatim — the decade CONTAINS the original corpus
        noised = F.transform(
            toks,
            lambda t, i: F.when(
                (F.col("_r") > 0) & ((i + F.col("_r")) % 2 == 0),
                F.concat(t, F.lit("~"), F.col("_r")),
            ).otherwise(t),
        )
        return rep.withColumn("text", F.array_join(noised, " ")).drop("_r")

    write_if_absent("documents", perturbed_documents)

    # skew twin of the events decade: replica 0 (~10% of all rows) lands on
    # one hot user → 3 hot transactionIds under the envelope synthesis
    def skewed_events():
        rep = replicated(read(spark, src, "events"), ["event_id"])
        return rep.withColumn(
            "user_id",
            F.when(F.col("_r") == 0, F.lit(HOT_USER)).otherwise(
                F.col("user_id") + F.col("_r") * F.lit(OFFSET)
            ),
        ).drop("_r")

    os.makedirs(f"{dest}/skew", exist_ok=True)
    out_skew = f"{dest}/skew/events.parquet"
    if not os.path.exists(f"{out_skew}/_SUCCESS"):
        skewed_events().write.mode("overwrite").parquet(out_skew)

    # small dims used by some queries: plain copies
    for name in ("orders", "customer", "part", "supplier", "nation", "region"):
        write_if_absent(name, lambda name=name: read(spark, src, name))
    manifest_path.write_text(json.dumps(expected))


def build_skew_variant(spark, src: str, dest: str, hot_replicas: int) -> str:
    """Events decade with replicas 0..hot_replicas-1 (hot_replicas × 10% of
    all rows) routed to ONE hot user → 3 hot transactionIds under the
    envelope synthesis. Returns the variant dir."""
    from pyspark.sql import functions as F

    from pagopa_ecommerce_cdc_service_spark.plans.helpers import read

    vdir = f"{dest}/skew{hot_replicas}"
    out = f"{vdir}/events.parquet"
    if os.path.exists(f"{out}/_SUCCESS"):
        return vdir
    os.makedirs(vdir, exist_ok=True)
    k = F.explode(F.array(*[F.lit(i) for i in range(REPLICAS)])).alias("_r")
    rep = read(spark, src, "events").select("*", k).withColumn(
        "event_id", F.col("event_id") + F.col("_r") * F.lit(OFFSET)
    )
    rep.withColumn(
        "user_id",
        F.when(F.col("_r") < hot_replicas, F.lit(HOT_USER)).otherwise(
            F.col("user_id") + F.col("_r") * F.lit(OFFSET)
        ),
    ).drop("_r").write.mode("overwrite").parquet(out)
    return vdir


def skew_sweep(
    spark, src: str, dest: str, runs: int, hotness=(1, 3, 5, 7)
) -> None:
    """Measure where the single-exchange CDC fold's hot-key straggler bites.

    For each hotness ratio (hot_replicas × 10% of the decade's rows on 3
    transactionIds — 10 routes EVERY row to the 3 hot keys),
    time the fold over the skewed decade against the uniform one.
    The envelope synthesis (a uniform map-side cost identical across
    variants) is MATERIALIZED to parquet once per variant so the timing
    isolates the fold's exchange + windows + aggregation; a full untimed
    warm-up run precedes the first measurement so no variant pays the
    one-off JIT/codegen bring-up inside its timing."""
    from pagopa_ecommerce_cdc_service_spark.operators.cdc_fold import (
        fold_transactions_view,
        prepare_events,
    )
    from pagopa_ecommerce_cdc_service_spark.plans.cdc_view import (
        synthesize_envelope,
    )

    def prepared_dir(vdir: str) -> str:
        out = f"{vdir}/prepared_envelope.parquet"
        if not os.path.exists(f"{out}/_SUCCESS"):
            prepare_events(synthesize_envelope(spark, vdir)).write.mode(
                "overwrite"
            ).parquet(out)
        return out

    def time_fold(pdir: str, n_runs=None):
        best = None
        for _ in range(n_runs or runs):
            t0 = time.time()
            fold_transactions_view(spark.read.parquet(pdir)).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    uniform = prepared_dir(build_skew_variant(spark, src, dest, 0))
    time_fold(uniform, n_runs=1)  # untimed JIT warm-up
    base = time_fold(uniform)
    print(json.dumps({"skew_sweep": "uniform", "sec": base}), flush=True)
    for hot in hotness:
        pdir = prepared_dir(build_skew_variant(spark, src, dest, hot))
        sec = time_fold(pdir)
        print(
            json.dumps(
                {
                    "skew_sweep": f"{hot * 10}%-hot",
                    "sec": sec,
                    "vs_uniform": round(sec / base, 2),
                }
            ),
            flush=True,
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    def positive(v):
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("--runs", type=positive, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--skew-sweep",
        action="store_true",
        help="only run the fold hot-key sweep",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma list: measure only these (default: the full QUERIES set)",
    )
    ap.add_argument(
        "--skew-hotness",
        default="1,3,5,7",
        help="comma list of hot replica counts (×10%% rows on 3 keys; 10 = all)",
    )
    args = ap.parse_args()

    from pagopa_ecommerce_cdc_service_spark.session import build_session

    spark = build_session(master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)
    import __spark_entry__ as entry

    if args.skew_sweep:
        hotness = tuple(int(h) for h in args.skew_hotness.split(","))
        skew_sweep(spark, "/root/testdata/sf0.1", args.out, args.runs, hotness)
        return

    build_sf1(spark, "/root/testdata/sf0.1", args.out)

    selected = (
        tuple(args.queries.split(",")) if args.queries else QUERIES
    )
    unknown = set(selected) - set(QUERIES)
    if unknown:
        raise SystemExit(f"not in the scaling set: {sorted(unknown)}")
    qs = entry.queries()
    results: dict[str, dict[str, float]] = {}
    for sf_label, sf_dir in (
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1", args.out),
    ):
        for name in selected:
            best = None
            for _ in range(args.runs):
                # noop sink = full computation (count() would let Catalyst
                # prune the aggregate/measure expressions under a count(1))
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results.setdefault(name, {})[sf_label] = round(best, 3)
            print(json.dumps({"query": name, "sf": sf_label, "sec": round(best, 3)}),
                  flush=True)

    # skew study: the CDC fold (and its lineage twin, which shares the
    # single-exchange shape) on the skewed decade (3 hot transactionIds
    # holding ~10% of the log) vs the uniform decade timed above
    for name in ("cdc_transactions_view", "cdc_field_lineage"):
        if name not in selected:
            continue
        best = None
        for _ in range(args.runs):
            t0 = time.time()
            qs[name](spark, f"{args.out}/skew").write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results.setdefault(name, {})["sf1-skew"] = round(best, 3)
        print(
            json.dumps({"query": name, "sf": "sf1-skew", "sec": round(best, 3)}),
            flush=True,
        )
    print(json.dumps({"summary": results}), flush=True)


if __name__ == "__main__":
    main()
