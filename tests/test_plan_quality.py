"""Physical-plan regression tests: the scale properties each operator relies
on must survive refactors.

These assert the *shape* Catalyst actually chose — filter/column pushdown
into the parquet scan, broadcast joins for dimensions, a single shuffle for
the CDC fold, top-k via TakeOrderedAndProject instead of a global sort —
because at 100 TB those are the difference between a plan that works and one
that doesn't finish.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_and_column_pushdown(spark, sf_dir, queries):
    plan = _plan(queries["q6_revenue_change"](spark, sf_dir))
    # shipdate predicate reaches the parquet scan (node text is truncated,
    # so match within the scan line rather than to the closing bracket)
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters: [" in scan_line
    assert "IsNotNull(l_shipdate)" in scan_line
    # projection pruned: the scan reads only the 4 needed lineitem columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan_line)
    assert m is not None
    read_cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q3_broadcasts_dimensions(spark, sf_dir, queries):
    plan = _plan(queries["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-10 must be a TakeOrderedAndProject, not a global Sort + Limit
    assert "TakeOrderedAndProject" in plan


def test_q5_all_dimension_joins_broadcast(spark, sf_dir, queries):
    plan = _plan(queries["q5_local_supplier_volume"](spark, sf_dir))
    # customer/supplier/nation/region all broadcast; only the fact-fact
    # lineitem⋈orders join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_cdc_fold_single_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["cdc_transactions_view"](spark, sf_dir))
    # the fold's contract: dedup window, guard window and final groupBy all
    # reuse ONE hash exchange on transactionId
    assert plan.count("Exchange hashpartitioning") == 1


def test_topk_window_group_limit(spark, sf_dir, queries):
    # rank()<=k filters push a WindowGroupLimit below the full window sort
    plan = _plan(queries["w_topk_per_type"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_cosine_topk_broadcast_no_shuffle_scoring(spark, sf_dir, queries):
    plan = _plan(queries["e_cosine_topk"](spark, sf_dir))
    # query vector is broadcast; scoring never shuffles the embeddings side
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_events_queries_no_python_udfs(spark, sf_dir, queries):
    # hot paths stay JVM-side: no BatchEvalPython / ArrowEvalPython stages
    for name in (
        "q1_pricing_summary",
        "cdc_transactions_view",
        "cdc_envelope_quarantine",
        "t_minhash_lsh_pairs",
        "t_simhash_pairs",
        "w_asof_click_purchase",
        "e_cosine_topk",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "EvalPython" not in plan, name


def test_asof_join_single_shuffle_per_side(spark, sf_dir, queries):
    plan = _plan(queries["w_asof_click_purchase"](spark, sf_dir))
    # union + window ⇒ no join node at all, one exchange on the key
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_keys_include_time_bucket(spark, sf_dir, queries):
    # the 10-minute range probe must run on a (user_id, bucket) EQUI-key —
    # the band alone degrades to scanning whole per-user histories at scale
    plan = _plan(queries["w_range_recent_clicks"](spark, sf_dir))
    join_line = next(
        l for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l
    )
    assert "probe_bucket" in join_line and "c_bucket" in join_line
    assert "user_id" in join_line


def test_ivf_assignment_has_no_corpus_shuffle(spark, sf_dir, queries):
    # IVF list assignment must be the broadcast pivot-array fold: the only
    # exchange allowed is the SinglePartition one under the 8-row query-side
    # window. A hash-partitioning exchange means the corpus is being
    # shuffled to rank pivot distances — the formulation that dies at 100 TB.
    plan = _plan(queries["e_ivf_topk"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_decontaminate_probes_via_broadcast(spark, sf_dir, queries):
    # the benchmark-gram probe must broadcast the gram set; a sort-merge
    # join would shuffle every exploded corpus gram by hash
    plan = _plan(queries["t_decontaminate"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_repetition_stats_single_explode_two_aggs(spark, sf_dir, queries):
    # bigram mode: one Generate (explode) feeding two map-side-combined
    # groupBys; the trigram dup-fraction stays in-row (no second Generate)
    plan = _plan(queries["t_repetition_stats"](spark, sf_dir))
    assert plan.count("Generate explode") == 1
    assert "EvalPython" not in plan


def test_pii_scrub_is_map_only(spark, sf_dir, queries):
    # the scrub pass is per-row Catalyst expressions: zero hash shuffles,
    # no Python stages — the shape a 100 TB scrub needs
    plan = _plan(queries["t_pii_scrub"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_global_shuffle_single_exchange_reused_by_agg(spark, sf_dir, queries):
    # row_number window and the per-shard aggregate share hashpartitioning
    # on shard: exactly ONE exchange end to end (plus the test-only spread
    # round-robin), partial aggregation map-side
    plan = _plan(queries["t_global_shuffle_shards"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # In the SMJ regime (broadcast off) the bucketBy(8, orderkey) layout
    # must satisfy both join sides' distribution requirement: a sort-merge
    # join with NO exchange on either join key, scans marked bucketed.
    import re

    from pagopa_ecommerce_cdc_service_spark.plans.tpch import (
        q_bucketed_colocated_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_bucketed_colocated_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("SortMergeJoin") == 1, plan[:1500]
    assert not re.findall(
        r"Exchange hashpartitioning\((o_orderkey|l_orderkey)", plan
    ), plan[:1500]
    assert plan.count("Bucketed: true") == 2


def test_partitioned_layout_scan_prunes(spark, sf_dir):
    # The one-day query over the date-partitioned layout must reach the
    # scan as a PartitionFilter (directory pruning before any row decode).
    import re

    from pagopa_ecommerce_cdc_service_spark.plans.events_queries import (
        w_partition_pruned_day,
    )

    df = w_partition_pruned_day(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "day" in pf.group(1), plan[:1500]


def test_pagerank_reuses_edge_exchange(spark, sf_dir):
    # Every iteration's contribution join, the degree build and the output
    # join must read the ONE materialized LSH-pair exchange rather than
    # re-running the minhash candidate pipeline.
    from pagopa_ecommerce_cdc_service_spark.plans.text_queries import (
        t_pagerank_similarity,
    )

    df = t_pagerank_similarity(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 4, plan[:1500]


def test_skew_join_pairs_aqe_split(spark, sf_dir, tmp_path):
    """The hot-key fact-fact join must actually take AQE's skew-join split
    when partitions are oversized: final adaptive plan shows the SMJ marked
    skew=true with AQEShuffleRead skewed on both sides. Events are staged as
    16 files first — skew split carves reduce partitions along MAPPER block
    boundaries, so a single-file (single-mapper) input is unsplittable no
    matter how skewed (exactly why a 100 TB layout keeps many map tasks)."""
    import re

    from pagopa_ecommerce_cdc_service_spark.plans.events_queries import (
        w_skew_join_pairs,
    )

    staged = str(tmp_path / "sf")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(16).write.parquet(
        f"{staged}/events.parquet"
    )
    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256b",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # the downstream per-user agg reuses the join's hash partitioning;
        # splitting breaks that guarantee, so AQE must be told the extra
        # post-agg shuffle is worth it (it is: the agg input after the
        # split is tiny compared to an unsplittable hot-key join task)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        df = w_skew_join_pairs(spark, staged)
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert re.search(r"SortMergeJoin.*skew=true", final), final[:1500]
    # at least the probe side must read split (skewed) partitions; whether
    # the build side is also marked depends on its measured sizes
    assert final.count("AQEShuffleRead skewed") >= 1, final[:1500]


def test_codec_round_trip_queries_are_map_only(spark, sf_dir, queries):
    """The BMP/WAV round-trip stages must stay map-only: exactly the one
    round-robin exchange from spread() (local single-file fan-out), two
    Arrow mapInPandas stages, and no other shuffle — at scale the codec
    work parallelizes with zero data movement."""
    for name in ("mm_image_decode_stats", "mm_audio_decode_stats"):
        plan = _plan(queries[name](spark, sf_dir))
        assert plan.count("MapInPandas") == 2, (name, plan[:800])
        assert plan.count("Exchange hashpartitioning") == 0, (name, plan[:800])
        assert plan.count("Exchange") <= 1, (name, plan[:800])


def test_edit_distance_candidates_equi_join(spark, sf_dir, queries):
    # blocking must give Catalyst an equi-join on (lang, pfx) — a plan that
    # degenerates to BroadcastNestedLoop/Cartesian re-derives all-pairs and
    # dies at scale; the levenshtein verify must stay JVM-side
    plan = _plan(queries["t_edit_distance_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_triangle_census_no_cartesian_and_reuses_pair_exchange(
    spark, sf_dir, queries
):
    # adjacency build and closure are equi-joins over the (narrow) edge
    # list — nothing may expand to an unkeyed product against the corpus —
    # and the two references to the expensive LSH pair pipeline must
    # collapse to reused exchanges at runtime (AQE stage reuse), so the
    # shingle/minhash pass runs once, not per consumer
    df = queries["t_similarity_triangles"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ReusedExchange") >= 1, plan[:1500]


def test_incremental_agg_reuses_fold_exchange(spark, sf_dir, queries):
    # v0/v1 statuses come from the SAME fold plan; under the no-AQE static
    # build the fold's transactionId exchange appears once per fold leg at
    # most, and the delta join shuffles only narrow (tid, status) rows —
    # no EvalPython, no cartesian anywhere
    plan = _plan(queries["cdc_incremental_agg"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_incremental_agg_identity_holds(spark, sf_dir, queries):
    # the maintained aggregate must equal the recompute, row for row — the
    # algebra the gate hash certifies, asserted here against live data
    rows = queries["cdc_incremental_agg"](spark, sf_dir).collect()
    assert rows, "expected at least one status group"
    for r in rows:
        assert r.n_maintained == r.n_base + r.n_delta
        assert r.n_maintained == r.n_recomputed, r


def test_mips_topk_broadcast_no_shuffle_scoring(spark, sf_dir, queries):
    # same posture as cosine top-k: one-row query broadcast, scoring stays
    # map-side over the corpus scan, top-k via TakeOrderedAndProject
    plan = _plan(queries["e_mips_topk"](spark, sf_dir))
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_interval_overlap_blocking_equi_join(spark, sf_dir, queries):
    # candidates must come from the hour-bucket EQUI-join (narrow key,
    # bounded per-bucket population) — a BNLJ/cartesian would re-derive the
    # quadratic pair space the bucketization exists to avoid
    plan = _plan(queries["w_interval_overlap_sessions"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_event_spans_map_only(spark, sf_dir, queries):
    """The ST8 span projection must never shuffle: one span row per event is
    a map-only side output at any scale."""
    plan = _plan(queries["cdc_event_spans"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rare_token_ratio_broadcasts_vocab(spark, sf_dir, queries):
    """The df table is vocabulary-sized: the token-level probe join must be
    a broadcast, leaving the df groupBy and the per-doc groupBy as the only
    corpus-sized exchanges."""
    plan = _plan(queries["t_rare_token_ratio"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row n_docs scalar


def test_ngram_jaccard_no_cartesian_and_gram_equijoin(spark, sf_dir, queries):
    """Prefix filtering must reach the plan as an EQUI-join on the gram key
    — never a cartesian / nested-loop pair enumeration; the df join keys on
    gram too (the 3-gram vocabulary outgrows broadcast at corpus scale)."""
    plan = _plan(queries["t_ngram_jaccard_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines()
             if "SortMergeJoin" in l or "BroadcastHashJoin" in l or "ShuffledHashJoin" in l]
    assert any("gram" in l for l in joins), joins


def test_hll_set_ops_register_sized_merge(spark, sf_dir, queries):
    """The union sketch merges REGISTER tables, not token streams: after
    the per-language register aggregation, every downstream exchange
    carries (lang, bucket)-grained rows (≤ m per language), and the pair
    fan-out joins broadcast the tiny pair/per-language tables."""
    plan = _plan(queries["t_hll_set_ops"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def _smj_regime(spark):
    """Context helper: disable auto-broadcast so ReuseExchange asserts see
    the cluster-scale SMJ shape (AQE's per-consumer broadcasts can't share
    exchanges at toy scale)."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        key = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(key, None)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)

    return ctx()


def test_tfidf_reuses_term_exchange(spark, sf_dir, queries):
    """The tf relation is pinned on a term exchange consumed by BOTH the
    df re-aggregate and the score join: in the SMJ regime the tokenize +
    explode + count pass must run once (ReusedExchange), and the top-k
    window must push a partial WindowGroupLimit below its exchange."""
    with _smj_regime(spark):
        df = queries["t_tfidf_topterms"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final[:1500]
    assert "WindowGroupLimit" in final
    assert "CartesianProduct" not in final


def test_boilerplate_single_pass_window(spark, sf_dir, queries):
    """Single-pass shape: gram df comes from a count window over the ONE
    exploded gram stream (an agg-and-join-back formulation re-ran the
    tokenize → ngram → distinct pipeline per consumer — pruning makes the
    exchanges non-canonical, so ReuseExchange can't merge them). The only
    shuffles at any scale: the gram exchange and the per-doc aggregate;
    the N scalar rides a one-row broadcast."""
    plan = _plan(queries["t_boilerplate_ngrams"](spark, sf_dir))
    assert plan.count("Generate") == 1          # ngram pipeline runs once
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_link_prediction_reuses_edge_exchange(spark, sf_dir, queries):
    """Wedge sides, the degree aggregate and the anti-join probe must all
    read the ONE pinned edge exchange instead of re-running the simhash
    band pipeline; candidates always come from equi-joins."""
    with _smj_regime(spark):
        df = queries["t_link_prediction"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # t_kcore_peel lazily persists the SAME edge subtree; if its cache is
    # live (full-suite order), Catalyst substitutes InMemoryRelation here
    # and the exchanges disappear — cache reuse proves single computation
    # even more directly than ReusedExchange, so accept either shape
    assert (
        final.count("ReusedExchange") >= 2 or "InMemoryTableScan" in final
    ), final[:1500]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_matryoshka_scan_is_shuffle_free(spark, sf_dir, queries):
    """Dim-prefix retrieval is the cheap-scan → bounded-rescore profile:
    one-row query broadcast, map-only coarse scoring, both stages top-k
    via TakeOrderedAndProject — the corpus never shuffles."""
    plan = _plan(queries["e_matryoshka_topk"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Broadcast" in plan


def test_asof_snapshot_single_shuffle(spark, sf_dir, queries):
    """The as-of fold inherits the view fold's contract: dedup window,
    guard window and the 20-field fold share ONE transactionId exchange;
    the cutoff is a pre-shuffle predicate, not a post-fold filter."""
    plan = _plan(queries["cdc_asof_snapshot"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_video_keyframes_one_arrow_stage_one_window(spark, sf_dir, queries):
    """Frame energies come from ONE Arrow mapInPandas stage (vectorized
    reduceat, no per-byte Python); keyframe selection is a Catalyst
    lag/lead window — the only exchange is the media_id window."""
    plan = _plan(queries["mm_video_keyframes"](spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "Generate" not in plan


def test_minhash_estimate_audit_banded_equijoin(spark, sf_dir, queries):
    """The estimator audit inherits the LSH scale shape: candidates come
    from the narrow (band, bkey) equi-join — never a cartesian — and the
    signature/shingle arrays join back once per side."""
    plan = _plan(queries["t_minhash_estimate_audit"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [l for l in plan.splitlines()
             if "Join" in l and ("bkey" in l or "doc_" in l)]
    assert any("bkey" in l for l in joins), joins


def test_event_transitions_bounded_shuffles(spark, sf_dir, queries):
    """Markov transition matrix: one user_id window exchange builds the
    lagged pairs; everything after aggregates a 25-row table. No joins,
    no Python stages, three exchanges total."""
    plan = _plan(queries["w_event_transitions"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 3
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_kcore_peel_rounds_read_cached_edges(spark, sf_dir, queries):
    """The unrolled peel must read the materialized edge/survivor caches
    (InMemoryTableScan), not re-derive the simhash band pipeline per
    semi-join reference — the exponential-duplication failure mode of
    unrolled iteration."""
    plan = _plan(queries["t_kcore_peel"](spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_ivf_build_stats_no_corpus_shuffle(spark, sf_dir, queries):
    """List occupancy comes from the broadcast pivot-assignment fold plus
    ONE map-side-combined groupBy(pid); the corpus never shuffles to rank
    pivot distances."""
    plan = _plan(queries["e_ivf_build_stats"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "EvalPython" not in plan


def test_hll_rollup_reads_register_caches(spark, sf_dir, queries):
    """The coarser rollup levels must merge the persisted REGISTER tables
    (InMemoryTableScan), not re-derive the events scan — the sketch path
    touches events exactly once; only the exact-audit columns re-scan."""
    plan = _plan(queries["w_hll_rollup"](spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


def test_ivfpq_semi_join_prunes_code_scan(spark, sf_dir, queries):
    """The composed IVFPQ index must (a) never go cartesian, (b) prune the
    ADC code scan with the probed-list semi-join (LeftSemi against the
    broadcast probed-id set), and (c) take both top-k stages as
    TakeOrderedAndProject — the cheap-scan → bounded-rescore profile."""
    plan = _plan(queries["e_ivfpq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert plan.count("TakeOrderedAndProject") >= 2


def test_ivf_opq_semi_join_prunes_code_scan(spark, sf_dir, queries):
    """The composed IVF-OPQ index (round 10) keeps the IVFPQ profile on
    the PERMUTED chain: no cartesian anywhere (the 64-entry permutation
    rides a one-row broadcast), the ADC scan pruned by the probed-list
    LeftSemi, both top-k stages TakeOrderedAndProject, and the OPQ
    statistics pass contributing exactly one unpartitioned 64-row window
    (the dimension ranking — bounded, see perf-pitfalls note)."""
    plan = _plan(queries["e_ivf_opq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "EvalPython" not in plan


def test_dup_span_alignment_is_keyed(spark, sf_dir, queries):
    """Span alignment must stay keyed end to end: candidates from the
    banded LSH join, positional grams joined on the (pair, gram) equi-key
    (never a cartesian), and runs from ONE gaps-and-islands window per
    (pair, diagonal)."""
    plan = _plan(queries["t_dup_span_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert "EvalPython" not in plan
    # the gram equality must fold into the alignment join's EQUI-KEYS
    # (Catalyst PushPredicateThroughJoin): keys [gram, doc_b] — a join on
    # doc_b alone with gram as a post-condition would compare |A|·|B|
    # gram pairs per candidate pair
    join_lines = [l for l in plan.splitlines() if "Join [" in l or "Join " in l]
    assert any("gram" in l and "doc_b" in l for l in join_lines), join_lines


def test_semdedup_candidates_cluster_bucketed(spark, sf_dir, queries):
    """SemDeDup pair generation must be the cid equi-self-join over the
    narrow assignment rows (quadratic only within a cluster) — never a
    corpus cartesian; vectors and their precomputed norms join back once
    per side."""
    plan = _plan(queries["e_semdedup_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # (kmeans seeding broadcasts its ONE-ROW centroid-array relation via a
    # BroadcastNestedLoopJoin — the benign e_pq_topk pattern, not a
    # cartesian hazard, so it is not asserted away here)
    joins = [l for l in plan.splitlines()
             if "SortMergeJoin" in l or "BroadcastHashJoin" in l or "ShuffledHashJoin" in l]
    assert any("cid" in l for l in joins), joins


def test_resize_geometry_map_only(spark, sf_dir, queries):
    """The resize gate stays map-only: Arrow stages plus one broadcast
    join on media_id — zero hash exchanges at any scale."""
    plan = _plan(queries["mm_resize_geometry"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") <= 3


def test_content_chunks_map_only(spark, sf_dir, queries):
    """Content-defined chunking is a pure flatMap: the cut-position array
    is computed ONCE per row in its own Project (not re-inlined into the
    starts/ends expressions), one Generate emits chunks, and there are
    zero hash exchanges at any corpus size."""
    plan = _plan(queries["t_content_chunks"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" in plan
    # the rolling-hash filter appears exactly once: projection collapse
    # must not duplicate the cuts computation into starts AND ends
    assert plan.count("% 1000000007") == 1


def test_chunk_dedup_narrow_key_aggregation(spark, sf_dir, queries):
    """Sub-document dedup stats shuffle ONLY 60-bit hashes + lengths +
    doc ids: exactly the two narrow-key exchanges of Spark's two-phase
    count-distinct ((hash, len, doc) partial-distinct, then (hash, len)),
    and the chunk text never appears in an exchange."""
    import re
    plan = _plan(queries["t_chunk_dedup_stats"](spark, sf_dir))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 2, keys
    assert all("chunk_hash" in k for k in keys), keys
    assert not any("text" in k for k in keys), keys


def test_chunk_dedup_apply_narrow_exchanges(spark, sf_dir, queries):
    """The apply stage adds exactly one occurrence-ranking window
    exchange on (chunk_hash, chunk_len) plus the per-doc rollup on
    doc_id — and no exchange ever carries the chunk text."""
    import re
    plan = _plan(queries["t_chunk_dedup_apply"](spark, sf_dir))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 2, keys
    assert any("chunk_hash" in k for k in keys), keys
    assert any("doc_id" in k and "chunk_hash" not in k for k in keys), keys
    assert not any("text" in k for k in keys), keys


def test_filtered_topk_label_pushdown_and_topk(spark, sf_dir, queries):
    plan = _plan(queries["e_filtered_topk"](spark, sf_dir))
    # the metadata predicate reaches a parquet scan (pre-filter semantics —
    # at scale it prunes row groups of the list-partitioned layout)
    assert any(
        "FileScan parquet" in l and "In(label, [2,5])" in l
        for l in plan.splitlines()
    ), "label IN predicate not pushed to any scan"
    assert "TakeOrderedAndProject" in plan


def test_gram_matrix_single_exchange(spark, sf_dir, queries):
    # defensive: assert the UNCACHED shape even if an earlier test left a
    # cached twin of this subtree (the PCA queries no longer persist
    # anything, but cache substitution would silently change the plan)
    spark.catalog.clearCache()
    plan = _plan(queries["e_gram_matrix"](spark, sf_dir))
    # one Generate + one partial-aggregable groupBy(dim_i): exactly one
    # hash exchange, and partial aggregation rides map-side
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_jl_topk_zero_hash_exchanges(spark, sf_dir, queries):
    plan = _plan(queries["e_jl_topk"](spark, sf_dir))
    # broadcast query row + map-only sketch scoring + TakeOrderedAndProject:
    # the corpus never hash-shuffles
    assert plan.count("Exchange hashpartitioning") == 0
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 1


def test_inverted_index_single_exchange(spark, sf_dir, queries):
    plan = _plan(queries["t_inverted_index"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Generate posexplode" in plan


def test_long_chunk_gates_exercise_arrow_route(spark, sf_dir, queries):
    """The synthesized-corpus gates must actually run the Arrow kernels:
    their plans contain MapInPandas stages on the long branch, the
    Catalyst route still chunks the short docs, and the long documents
    carry rows (nonzero chunk output through the Arrow route)."""
    from pyspark.sql import functions as F

    from pagopa_ecommerce_cdc_service_spark.plans.text_queries import _LONG_MOD

    df = queries["t_content_chunks_long"](spark, sf_dir)
    plan = _plan(df)
    assert "MapInPandas" in plan, "Arrow chunk route absent from the gate plan"
    assert "% 1000000007" in plan, "Catalyst chunk route absent from the gate plan"
    assert df.filter(F.col("doc_id") % _LONG_MOD == 0).count() > 0, (
        "no chunk rows flowed through the Arrow route"
    )
    plan2 = _plan(queries["t_chunk_rewrite_long"](spark, sf_dir))
    # chunker kernel (inside the drops subtree) + rebuild kernel
    assert plan2.count("MapInPandas") >= 2, plan2[:800]


def test_winnow_fingerprints_single_gram_pass(spark, sf_dir, queries):
    """The winnowing selection is a pure flatMap whose gram-hash array is
    computed ONCE per row: the md5 gram expression must appear exactly
    once (a per-position lambda embedding it — or projection collapse
    duplicating it into the w slices — re-evaluates the array per
    reference: measured 38 s vs 0.9 s at sf0.1), the window minima fold
    as w−1 zip_with/least stages, and there are zero exchanges."""
    plan = _plan(queries["t_winnow_fingerprints"](spark, sf_dir))
    assert plan.count("md5(") == 1, plan[:600]
    assert plan.count("zip_with") == 3
    assert plan.count("Exchange hashpartitioning") == 0


def test_chunk_rewrite_text_never_shuffles(spark, sf_dir, queries):
    plan = _plan(queries["t_chunk_dedup_rewrite"](spark, sf_dir))
    # the ranking window + drops fold run on narrow post-shuffle rows only:
    # the operators ABOVE the hash exchanges (Sort/Window on the chunk keys,
    # the collect_list aggregate) must not carry the text column in their
    # schemas — text is consumed map-side (md5/substr before the exchange)
    # and meets the drops array again only via the broadcast join onto the
    # original document rows
    for l in plan.splitlines():
        if ("Window [row_number()" in l
                or "ObjectHashAggregate" in l
                or ("Sort [chunk_hash" in l)):
            assert "text#" not in l, f"chunk text in a post-shuffle operator:\n{l}"


def test_stats_family_single_corpus_scan(spark, sf_dir, queries):
    """Trend/correlation/decay reduce events ONCE to the bounded daily
    grid; the global anchors (min/max day, max k) are windows over that
    grid, never second corpus scans. One parquet scan, one corpus
    exchange (the grid aggregation); everything downstream runs on
    grid-sized data."""
    for name in ("w_ols_daily_trend", "w_pearson_daily", "w_decayed_counts"):
        plan = _plan(queries[name](spark, sf_dir))
        assert plan.count("FileScan parquet") == 1, (name, plan[:1200])
        # pearson's exact countDistinct legitimately adds an expand round;
        # the others stay at grid-agg + final per-type agg
        cap = 3 if name == "w_pearson_daily" else 2
        assert plan.count("Exchange hashpartitioning") <= cap, name
        # the scan reads only the grid-building columns
        scan_line = next(
            line for line in plan.splitlines() if "FileScan parquet" in line
        )
        assert "value" not in scan_line, name


def test_exact_substr_single_posting_exchange(spark, sf_dir, queries):
    """ExactSubstr spans: the positional gram posting table crosses the
    wire exactly twice — once on the gram hash (the WINDOW count; a
    groupBy+join-back would add a third) and once on doc_id for the
    gaps-and-islands merge. One corpus scan, no joins at all."""
    plan = _plan(queries["t_exact_substr_spans"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan[:1200]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:1200]
    assert "Join" not in plan, "posting count must be a window, not a join"


def test_unigram_surprisal_no_global_exchange(spark, sf_dir, queries):
    """Surprisal: the corpus total rides a broadcast one-row crossJoin and
    the vocab join broadcasts at this scale — no single-partition global
    exchange anywhere (Exchange SinglePartition only feeds the one-row
    total aggregate, never the token table)."""
    plan = _plan(queries["t_unigram_surprisal"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:1200]
    assert plan.count("BroadcastExchange") >= 1, "one-row total must broadcast"


def test_interval_overlap_join_is_bucketed_broadcast(spark, sf_dir, queries):
    """The range join must run as the bucketed rewrite: sessions explode
    into hour buckets (Generate) and equi-join the BROADCAST hot-hour
    dimension — never a sort-merge theta join or a cross product over
    sessions x hours."""
    plan = _plan(queries["w_interval_overlap_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, "range join degenerated to SMJ"
    assert plan.count("Generate explode") == 1, plan[:1200]
    # the only nested-loop is the broadcast one-row threshold crossJoin
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:1200]


def test_stratified_sample_single_exchange(spark, sf_dir, queries):
    """Quota sampling: stratum count and rank share ONE hash exchange on
    the stratum key (both windows partition identically); one corpus
    scan, nothing else moves."""
    plan = _plan(queries["t_stratified_sample"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan[:1200]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1200]


def test_kcenter_coreset_pinned_distance_tables(spark, sf_dir, queries):
    """FPS coreset: every running-distance table is lazily persisted —
    the unrolled argmax chain references each s_k twice, and without the
    pin the lineage re-derives ~2^k corpus scans. The selection itself is
    TakeOrderedAndProject (one per round); nothing sort-merges."""
    plan = _plan(queries["e_kcenter_coreset"](spark, sf_dir))
    assert "InMemoryTableScan" in plan, "distance tables not pinned"
    assert "SortMergeJoin" not in plan
    assert plan.count("TakeOrderedAndProject") >= 4


def test_pit_status_zero_joins(spark, sf_dir, queries):
    """Point-in-time lookup: history and probes UNION on the key and a
    window resolves every probe — the plan must contain NO join at all
    (the naive as-of formulation is |events| x |intervals|)."""
    plan = _plan(queries["cdc_pit_status"](spark, sf_dir))
    assert "Join" not in plan, "PIT lookup must be the union+window shape"
    assert "Window" in plan


def test_keepone_rewrite_shape_matches_cutall(spark, sf_dir, queries):
    """The keep-first policy costs nothing structurally: same exchange
    count as the cut-all rewrite (the gh exchange serves a row_number
    window instead of a count window)."""
    keepone = _plan(queries["t_exact_substr_keepone"](spark, sf_dir))
    cutall = _plan(queries["t_exact_substr_rewrite"](spark, sf_dir))
    assert keepone.count("Exchange hashpartitioning") == cutall.count(
        "Exchange hashpartitioning"
    )
    assert keepone.count("FileScan parquet") == cutall.count("FileScan parquet")


def test_ngram_novelty_two_exchanges_no_joins(spark, sf_dir, queries):
    """Novelty: postings cross the wire once on the gram hash (min-doc
    window) and once on doc_id (the per-doc census). No joins, one scan."""
    plan = _plan(queries["t_ngram_novelty"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_mmr_selection_never_rescans_corpus(spark, sf_dir, queries):
    """MMR: candidate generation is the only corpus pass (one scan into
    the pinned 16-row pool); every per-round table is pinned so the
    unrolled chain reuses InMemoryRelations instead of re-deriving
    lineage (plan text nests each cached child, so scan-counting the
    string overcounts — presence of the cache nodes plus
    TakeOrderedAndProject per round is the shape contract, as for FPS)."""
    plan = _plan(queries["e_mmr_topk"](spark, sf_dir))
    assert "InMemoryTableScan" in plan, "pool/rounds not pinned"
    assert "SortMergeJoin" not in plan
    assert plan.count("TakeOrderedAndProject") >= _plan_mmr_rounds()


def _plan_mmr_rounds() -> int:
    from pagopa_ecommerce_cdc_service_spark.plans.vector_queries import _MMR_K

    return _MMR_K


def test_zipf_head_is_take_ordered(spark, sf_dir, queries):
    """Zipf: the top-V head must come from TakeOrderedAndProject — the
    global rank window then sees 4096 rows, never the full vocabulary."""
    plan = _plan(queries["t_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_char_entropy_no_joins(spark, sf_dir, queries):
    """Char entropy: (doc, ch) census -> doc window -> doc census; the
    window and the final aggregation share the doc partitioning."""
    plan = _plan(queries["t_char_entropy"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_session_paths_take_ordered_census(spark, sf_dir, queries):
    plan = _plan(queries["w_session_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # sessionization window + (user, session) agg + path census: the agg
    # reuses the window's user partitioning, so at most two exchanges
    assert plan.count("Exchange hashpartitioning") <= 3


def test_markov_iterations_on_bounded_tables(spark, sf_dir, queries):
    """Markov stationary (r14 in-row form): the matrix and type dimension
    each collapse to one array row, and all ten power iterations run as
    in-row array folds in a single map stage — no per-iteration joins, no
    re-scan of the corpus per iteration."""
    plan = _plan(queries["w_markov_stationary"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    # bounded corpus reads: matrix build + type census legs only
    assert plan.count("FileScan parquet") <= 4, plan[:1200]
    # each iteration's vector binds through an explode(array(..)) Generate
    # barrier so CollapseProject cannot re-inline the recursion into the
    # per-entry lambdas (exponential re-evaluation). A Catalyst version
    # that collapses singleton Generates would silently break this — pin
    # the full 10-iteration chain.
    assert plan.count("Generate") >= 10, plan[:1200]
    # the two bounded sides attach via one broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_distinctive_terms_bounded_rank(spark, sf_dir, queries):
    plan = _plan(queries["t_source_distinctive_terms"](spark, sf_dir))
    # totals broadcast; the only window partitions by source (bounded)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_hamming_hist_shares_pair_shape(spark, sf_dir, queries):
    """The calibration histogram must not cost more than the pair query:
    same banded self-join, a census instead of pair output."""
    hist = _plan(queries["t_simhash_hamming_hist"](spark, sf_dir))
    pairs = _plan(queries["t_simhash_pairs"](spark, sf_dir))
    assert hist.count("Exchange hashpartitioning") <= pairs.count(
        "Exchange hashpartitioning"
    ) + 1  # + the 61-bin census exchange


def test_seasonality_and_norm_hist_single_scan(spark, sf_dir, queries):
    for name in ("w_hourly_seasonality", "e_norm_histogram"):
        plan = _plan(queries[name](spark, sf_dir))
        assert plan.count("FileScan parquet") <= 2, name  # grid + 1-row total
        assert "SortMergeJoin" not in plan, name


def test_cusum_bounded_grid_windows(spark, sf_dir, queries):
    """The only full-data pass is the (type, day) count aggregation; the
    three CUSUM windows run on the bounded grid — 2 hash exchanges total,
    no joins."""
    plan = _plan(queries["w_cusum_changepoint"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:1200]
    assert "Join" not in plan


def test_sampled_recall_gt_is_anchor_broadcast(spark, sf_dir, queries):
    """The sampled audit's ground truth must be the LINEAR anchor x corpus
    scan: anchors via TakeOrderedAndProject (md5-rank head, no global
    sort), broadcast into the corpus pass — never a corpus x corpus
    product."""
    plan = _plan(queries["e_semdedup_pair_recall_sampled"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast(anchors) crossJoin
    assert "CartesianProduct" not in plan


def test_opq_no_cartesian_and_pinned_pq_shape(spark, sf_dir, queries):
    """The OPQ permutation must ride broadcasts (64-row stats, one-row
    perm array); the PQ chain underneath keeps its broadcast-LUT search
    (no corpus x corpus product anywhere)."""
    for name in ("e_opq_topk", "e_opq_distortion_delta"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name


def test_semdedup_kn_cluster_bucketed(spark, sf_dir, queries):
    """The corpus-scaled-k query keeps the SemDeDup candidate discipline:
    cid equi-self-join over narrow assignment rows, never a corpus
    cartesian; the k law itself is a one-row broadcast aggregate (a benign
    BroadcastNestedLoopJoin, the e_pq_topk pattern), not a vector-set
    exchange."""
    plan = _plan(queries["e_semdedup_kn"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines()
             if "SortMergeJoin" in l or "BroadcastHashJoin" in l or "ShuffledHashJoin" in l]
    assert any("cid" in l for l in joins), joins
    assert "EvalPython" not in plan


def test_pcapq_chain_no_python_no_cartesian(spark, sf_dir, queries):
    """The PCA-permutation PQ stays JVM-side end-to-end: the fixed-point
    chain is in-row array expressions, the permutation a one-row
    broadcast (BroadcastNestedLoopJoin — benign e_pq_topk pattern), and
    both top-k stages TakeOrderedAndProject."""
    plan = _plan(queries["e_pcapq_topk"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2


def test_perplexity_buckets_bounded_grid(spark, sf_dir, queries):
    """The tercile census must never globally sort the corpus: no Sort
    over document rows feeding a rank window — the only window runs on
    the bounded (score → count) grid, and cutoffs ride broadcast
    one-row joins into a map-side bucket assignment."""
    plan = _plan(queries["t_perplexity_buckets"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # exactly one Window (the bounded-grid cumulative sum); a rank-ntile
    # formulation would add a second corpus-wide window
    assert plan.count("Window") == 1, plan.count("Window")


def test_pq_sdc_code_domain_search(spark, sf_dir, queries):
    """SDC's search path must stay in the code domain: the scored join is
    a broadcast of the bounded query LUT against the narrow code table
    (BroadcastHashJoin on sub/cid keys), never a raw-vector cartesian."""
    plan = _plan(queries["e_pq_sdc_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    joins = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert any("cid_b" in l for l in joins), joins


def test_bq_hamming_hist_single_scan_census(spark, sf_dir, queries):
    """The calibration census is one corpus scan + a bounded-grid
    aggregation: the only hash exchange moves (hamming, partials) rows —
    at most 65 per task after map-side combine."""
    plan = _plan(queries["e_bq_hamming_hist"](spark, sf_dir))
    assert "EvalPython" not in plan
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) == 1 and "hamming" in hash_ex[0], hash_ex


def test_tuning_grid_shares_training_chain(spark, sf_dir, queries):
    """The 2-D tuning surface's nine cells must share ONE permuted PQ
    training chain: after execution the adaptive plan collapses the
    repeated training/ADC subtrees into ReusedExchange reads (the
    e_pq_cand_curve static-sharing pattern — no eager pins), and the
    whole surface stays JVM-side with no cartesian."""
    df = queries["e_ivf_opq_tuning_grid"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # 9 cells over 3 ADC scans over 1 training: at minimum the shared
    # subtrees behind the 6 non-first budget heads must be reuse reads
    assert plan.count("ReusedExchange") >= 6, plan.count("ReusedExchange")


def test_kn_pruned_keepone_matches_union_find(spark, sf_dir, queries):
    """The pruned-kn keep-one table must equal an independent Python
    union-find over the pruned pair set (same discipline as
    test_wminhash_keepone_matches_union_find, on the scale path)."""
    from pagopa_ecommerce_cdc_service_spark.plans.vector_queries import (
        _kn_pruned_emb_final_pairs,
    )

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    _, _, pairs = _kn_pruned_emb_final_pairs(spark, sf_dir)
    edges = [(r.vec_a, r.vec_b) for r in pairs.collect()]
    for a, b in edges:
        union(a, b)
    # path-compress to the true minimum representative
    expect = {x: find(x) for x in parent}
    got = {
        r.vec_id: (r.group_rep, r.kept)
        for r in queries["e_semdedup_kn_pruned_keepone"](spark, sf_dir).collect()
    }
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(got) == n_vec
    for vid, (rep, kept) in got.items():
        if vid in expect:
            assert rep == expect[vid], (vid, rep, expect[vid])
            assert kept == (rep == vid)
        else:
            assert rep is None and kept


def test_tuning_grid_budget_monotone(spark, sf_dir, queries):
    """Provable law of nested candidate pools: at fixed nprobe, hits@10
    is NON-DECREASING in the candidate budget. The exact-cosine rescore
    picks the pool's true top-10; enlarging the pool can displace a
    ground-truth member from that top-10 only with a higher-cosine
    vector, which is then itself in the ground truth — so hits never
    drop. (No such law holds ACROSS probe depths: a wider probe can
    flood a small budget with low-quality ADC candidates — the measured
    (nprobe=4, budget=10) dip.)"""
    rows = queries["e_ivf_opq_tuning_grid"](spark, sf_dir).collect()
    by_probe: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_probe.setdefault(r.nprobe, []).append((r.cand_budget, r.hits))
    assert len(rows) == 9
    for np_, cells in by_probe.items():
        cells.sort()
        hits = [h for _, h in cells]
        assert hits == sorted(hits), (np_, cells)


def test_band_sweep_sampled_bounded_and_jvm_side(spark, sf_dir, queries):
    """The sampled sweep must stay JVM-side with no cartesian (the
    1-row count joins are broadcast), and its three arms must share the
    sampled shingle/signature subtree via ReusedExchange — the sample is
    what makes the sweep decade-flat, so losing the shared subtree would
    triple the bounded work."""
    df = queries["t_lsh_band_sweep_sampled"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("ReusedExchange") >= 2, plan.count("ReusedExchange")


def test_capacity_train_pins_narrow_relation(spark, sf_dir, queries):
    """The train capacity curve's three arms re-read the narrow
    (doc_id, w) train relation; the lazy persist must actually serve
    those reads (InMemoryTableScan present) so the chunk-rewrite subtree
    executes once, not three times — and the whole chain stays
    JVM-side."""
    df = queries["t_pack_capacity_train"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_regret_sweep_sampled_exact_arm_shape(spark, sf_dir, queries):
    """The regret sweep's exact ground-truth arm must be the bounded
    sample head (TakeOrderedAndProject — map-side top-S, never a global
    sort) joined against broadcast centroids: no Python, no cartesian,
    and the three chains' shared subtrees collapse to ReusedExchange."""
    df = queries["e_kn_pruned_regret_sweep"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("ReusedExchange") >= 3, plan.count("ReusedExchange")


def test_tuning_grid_degenerate_corpus_keeps_all_cells(spark, queries, tmp_path):
    """The ADVICE-r11 latent mismatch, exercised end-to-end: on a corpus
    holding ONLY the query vector, every (nprobe, cand_budget) cell has
    zero candidates — the Spark plan must still emit all 9 rows (static
    grid + coalesce(0)), matching the oracle's 9 static UNION ALL rows,
    and the whole OPQ/IVF/PQ chain must survive the degenerate input."""
    import duckdb

    import __spark_entry__ as entry_mod

    emb_dir = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(0, [float((i * 7) % 13 - 6) for i in range(64)], 5)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(emb_dir)

    rows = queries["e_ivf_opq_tuning_grid"](spark, str(tmp_path)).collect()
    assert len(rows) == 9
    assert all(r.hits == 0 and r.recall_at_10 == 0.0 for r in rows)
    assert {(r.nprobe, r.cand_budget) for r in rows} == {
        (np_, lb) for np_ in (1, 2, 4) for lb in (10, 20, 40)
    }

    con = duckdb.connect()
    # an optimizer pass that takes ~80 s to plan this oracle on DuckDB 1.0
    # (see the parity suite's duck fixture)
    con.execute("SET disabled_optimizers = 'statistics_propagation'")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{emb_dir}/*.parquet'"
    )
    odf = con.execute(
        entry_mod.oracle_sql()["e_ivf_opq_tuning_grid"]
    ).fetchall()
    assert len(odf) == 9


def test_ivf_split_rebalance_fold_only(spark, sf_dir, queries):
    """The rebalance audit must keep the IVF family's zero-corpus-exchange
    discipline: assignment and sub-seed reassignment are broadcast array
    folds (BroadcastNestedLoopJoin on 1-row relations), hot selection is
    the 8-row TakeOrderedAndProject, and every hash exchange carries a
    bounded key space (pid / list_id partials) — never a per-vec_id
    shuffle or sort-merge join of the corpus."""
    df = queries["e_ivf_split_rebalance"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_semantic_broadcast_pruned(spark, sf_dir, queries):
    """The contamination scan must never be all-pairs: train-side
    assignment is the broadcast pivot fold, the eval probe table rides a
    BroadcastHashJoin into the train scan (pid-pruned candidates), and
    nothing falls back to a cartesian or sort-merge join of the corpus."""
    df = queries["e_decontaminate_semantic"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_rebalanced_topk_serving_shape(spark, sf_dir, queries):
    """Serving over the rebalanced layout must keep the e_ivf_topk plan
    discipline: probed ids ride a broadcast semi-join into the
    assignment scan, the final head is a TakeOrderedAndProject (map-side
    top-5, never a global sort), and nothing falls back to Python, a
    cartesian, or a corpus sort-merge join."""
    df = queries["e_ivf_rebalanced_topk"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
