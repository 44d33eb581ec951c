"""Invariant tests for the training-pipeline operators: deterministic
train/test splitting and sequence packing."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from pagopa_ecommerce_cdc_service_spark.operators.packing import pack_concat_offsets
from pagopa_ecommerce_cdc_service_spark.operators.split import assign_split

CAP = 100


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("n_tokens"),
    )


def test_pack_bins_full_and_docs_tiled(spark):
    segs = pack_concat_offsets(_docs(spark), capacity=CAP, n_shards=4).collect()

    per_bin = defaultdict(int)
    per_doc = defaultdict(list)
    for r in segs:
        per_bin[(r["shard"], r["bin_idx"])] += r["tok_len"]
        per_doc[r["doc_id"]].append((r["tok_start"], r["tok_len"]))

    last_bin = {}
    for shard, b in per_bin:
        last_bin[shard] = max(last_bin.get(shard, -1), b)
    for (shard, b), total in per_bin.items():
        if b == last_bin[shard]:
            assert 0 < total <= CAP
        else:
            assert total == CAP, f"bin ({shard},{b}) holds {total} != {CAP}"

    weights = {r["doc_id"]: r["n_tokens"] for r in _docs(spark).collect()}
    for doc, parts in per_doc.items():
        parts.sort()
        pos = 0
        for start, ln in parts:
            assert start == pos  # contiguous slices, nothing lost/duplicated
            pos += ln
        assert pos == weights[doc]


def test_pack_deterministic_under_partitioning(spark):
    a = pack_concat_offsets(_docs(spark), capacity=CAP, n_shards=4).collect()
    b = pack_concat_offsets(
        _docs(spark).repartition(13), capacity=CAP, n_shards=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_split_fractions_and_stability(spark):
    d = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    out = assign_split(
        d, key="doc_id",
        fractions={"train": 0.8, "validation": 0.1, "test": 0.1},
        stratum="source",
    )
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["validation"] / 5000 - 0.1) < 0.02
    assert abs(counts["test"] / 5000 - 0.1) < 0.02

    # pure function of (stratum, key): identical under any partitioning
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(
            d.repartition(17), key="doc_id",
            fractions={"train": 0.8, "validation": 0.1, "test": 0.1},
            stratum="source",
        ).collect()
    }
    assert a == b


def test_split_fractions_must_sum_to_one(spark):
    import pytest

    with pytest.raises(ValueError):
        assign_split(
            spark.range(1).select(F.col("id").alias("doc_id")),
            key="doc_id", fractions={"train": 0.5},
        )


# --- stratified quota sampling -----------------------------------------------

def test_stratified_quota_exactness_property(spark):
    """Random strata: every (lang, source) stratum keeps EXACTLY
    ceil(n/5) docs, and the kept set is the md5-rank prefix (the n
    smallest hashes), independent of input order."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        import pytest

        pytest.skip("hypothesis not installed")

    from pagopa_ecommerce_cdc_service_spark.functions.hashing import md5_long_py
    from pagopa_ecommerce_cdc_service_spark.plans.pipeline_queries import (
        stratified_quota_sample,
    )

    strata = st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.sampled_from(["web", "book"]),
            st.integers(min_value=1, max_value=13),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: (t[0], t[1]),
    )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(strata)
    def run(spec):
        rows, next_id = [], 0
        for lang, source, n in spec:
            for _ in range(n):
                rows.append((next_id, lang, source))
                next_id += 1
        df = spark.createDataFrame(rows, ["doc_id", "lang", "source"])
        got = stratified_quota_sample(df).collect()
        by_stratum = {}
        for r in got:
            by_stratum.setdefault((r.lang, r.source), []).append(r)
        for lang, source, n in spec:
            kept = by_stratum.get((lang, source), [])
            quota = (n + 4) // 5
            assert len(kept) == quota, (lang, source, n)
            ids = [i for i, l, s in rows if (l, s) == (lang, source)]
            expect = set(
                sorted(ids, key=lambda i: (md5_long_py(str(i)), i))[:quota]
            )
            assert {r.doc_id for r in kept} == expect

    run()


def test_stream_stratified_quota_equals_batch_across_restart(spark, tmp_path):
    """Two stream incarnations on one checkpoint (the held-back slice is
    released between them): the adjudicated kept set must equal the batch
    quota law over everything ingested — including rows whose quota
    membership only opened when their stratum grew in the second
    incarnation — and the second incarnation ingests only the released
    file."""
    from pagopa_ecommerce_cdc_service_spark.plans.helpers import (
        release_held,
        staged_stream,
    )
    from pagopa_ecommerce_cdc_service_spark.plans.pipeline_queries import (
        stratified_quota_sample,
    )
    from pagopa_ecommerce_cdc_service_spark.streaming.sampling import (
        stream_stratified_quota,
    )

    work = str(tmp_path / "work")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def docs(lo, hi):
        return spark.createDataFrame(
            [
                (i, f"t{i}", "en" if i % 2 else "fr", "web", 2)
                for i in range(lo, hi)
            ],
            schema,
        )

    stream = staged_stream(work, [docs(0, 8), docs(8, 14), docs(14, 40)], held=1)
    first = stream_stratified_quota(stream, work)
    batch1 = stratified_quota_sample(docs(0, 14))
    assert {r.doc_id for r in first.collect()} == {
        r.doc_id for r in batch1.collect()
    }
    # the store holds one row per ingested doc: the held slice stayed out
    assert spark.read.parquet(f"{work}/store").count() == 14

    # second incarnation: the released file, SAME checkpoint — only it is
    # ingested, and the final adjudication re-opens quota membership
    release_held(work)
    second = stream_stratified_quota(stream, work)
    assert spark.read.parquet(f"{work}/store").count() == 40
    batch2 = stratified_quota_sample(docs(0, 40))
    got = {(r.doc_id, r.stratum_size, r.quota, r.rk) for r in second.collect()}
    expect = {
        (r.doc_id, r.stratum_size, r.quota, r.rk) for r in batch2.collect()
    }
    assert got == expect


def test_capacity_curve_matches_packing_operator(spark, sf_dir):
    """t_pack_capacity_curve's census must equal a direct census of
    pack_concat_offsets' output at every swept capacity — the curve is a
    claim about the packing law, so pin it to the operator, not just the
    SQL oracle."""
    from pagopa_ecommerce_cdc_service_spark.operators.text import tokens
    from pagopa_ecommerce_cdc_service_spark.plans.pipeline_queries import (
        _PACK_CURVE_CAPS,
        _PACK_SHARDS,
        t_pack_capacity_curve,
    )
    from pagopa_ecommerce_cdc_service_spark.plans.helpers import read

    curve = {
        r.capacity: r
        for r in t_pack_capacity_curve(spark, sf_dir).collect()
    }
    docs = read(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    total_tokens = docs.filter(F.col("n_tokens") > 0).agg(
        F.sum("n_tokens")
    ).collect()[0][0]
    for cap in _PACK_CURVE_CAPS:
        seg = pack_concat_offsets(
            docs, weight_col="n_tokens", capacity=cap, n_shards=_PACK_SHARDS
        ).collect()
        n_segments = len(seg)
        bins = {(r.shard, r.bin_idx) for r in seg}
        per_doc = defaultdict(int)
        for r in seg:
            per_doc[r.doc_id] += 1
        n_split = sum(1 for v in per_doc.values() if v > 1)
        row = curve[cap]
        assert row.n_segments == n_segments
        assert row.n_bins == len(bins)
        assert row.n_split_docs == n_split
        assert row.total_tokens == total_tokens
        assert row.waste == len(bins) * cap - total_tokens


def test_capacity_train_matches_packing_over_pipeline_train(spark, sf_dir):
    """t_pack_capacity_train's census must equal a direct census of
    pack_concat_offsets over the SAME surviving-train relation the
    chunk-dedup pipeline produces — the curve claims to be the packing
    law applied to the pipeline's train split, so pin the composition to
    the operators, not just the SQL oracle."""
    from pagopa_ecommerce_cdc_service_spark.operators.split import assign_split
    from pagopa_ecommerce_cdc_service_spark.operators.text import tokens
    from pagopa_ecommerce_cdc_service_spark.plans.helpers import read
    from pagopa_ecommerce_cdc_service_spark.plans.pipeline_queries import (
        _PACK_CURVE_CAPS,
        _PACK_SHARDS,
        t_pack_capacity_train,
    )
    from pagopa_ecommerce_cdc_service_spark.plans.text_queries import (
        _SPLIT_FRACTIONS,
        _chunk_rewrite,
    )

    curve = {
        r.capacity: r for r in t_pack_capacity_train(spark, sf_dir).collect()
    }
    docs = read(spark, sf_dir, "documents")
    rw = _chunk_rewrite(docs.select("doc_id", "text"))
    train = (
        assign_split(
            rw.select("doc_id", "rebuilt_text").join(
                docs.select("doc_id", "source"), "doc_id"
            ),
            key="doc_id",
            fractions=_SPLIT_FRACTIONS,
            stratum="source",
        )
        .filter(F.col("split") == "train")
        .select(
            "doc_id",
            F.size(tokens(F.col("rebuilt_text"))).cast("long").alias("n_tokens"),
        )
        # one chunk rewrite (~40 s at sf0.001) feeds the total and every capacity
        .persist()
    )
    try:
        total_tokens = train.filter(F.col("n_tokens") > 0).agg(
            F.sum("n_tokens")
        ).collect()[0][0]
        for cap in _PACK_CURVE_CAPS:
            seg = pack_concat_offsets(
                train, weight_col="n_tokens", capacity=cap, n_shards=_PACK_SHARDS
            ).collect()
            bins = {(r.shard, r.bin_idx) for r in seg}
            per_doc = defaultdict(int)
            for r in seg:
                per_doc[r.doc_id] += 1
            row = curve[cap]
            assert row.n_segments == len(seg)
            assert row.n_bins == len(bins)
            assert row.n_split_docs == sum(1 for v in per_doc.values() if v > 1)
            assert row.total_tokens == total_tokens
            assert row.waste == len(bins) * cap - total_tokens
    finally:
        train.unpersist()


def test_pack_bins_exact_integer_div_above_2_53(spark):
    """The ADVICE-r11 hazard, pinned on a case where the old float law
    PROVABLY mis-bins: above 2^53 the long→double cast is lossy (ulp=2),
    so a doc starting at 4097·2^41 − 1 — an odd integer that ties-to-even
    rounds UP to 4097·2^41 — landed in bin 4097 under `/` + cast while
    the exact integer law puts it in 4096
    (int(float(2^53 + 2^41 − 1) / 2^41) == 4097 ≠ 4096). capacity = 2^41
    keeps the bin explode bounded (~4k rows) while the cumsum sits
    exactly on the hazard."""
    cap = 1 << 41
    big = (1 << 53) + (1 << 41) - 1  # doc 1 ends one token under 4097·cap
    docs = spark.createDataFrame(
        [(1, big), (2, 10)], ["doc_id", "n_tokens"]
    )
    seg = pack_concat_offsets(docs, capacity=cap, n_shards=1).collect()
    # doc 2 starts at big: exact first_bin 4096, float law said 4097 —
    # it must straddle bins 4096/4097 with a 1-token first slice
    d2 = sorted(
        (r.bin_idx, r.tok_start, r.tok_len) for r in seg if r.doc_id == 2
    )
    assert d2 == [(4096, 0, 1), (4097, 1, 9)], d2
    # doc 1 tiles bins 0..4096 and every bin except the shard's last is
    # exactly full (doc 1's last slice + doc 2's first token fill 4096)
    per_bin = {}
    for r in seg:
        per_bin[r.bin_idx] = per_bin.get(r.bin_idx, 0) + r.tok_len
    last = max(per_bin)
    for b, tot in per_bin.items():
        if b != last:
            assert tot == cap, (b, tot)
    assert per_bin[last] == (big + 10) - 4097 * cap
