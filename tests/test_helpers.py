"""Unit tests for plan helpers: Spark size-string parsing, the spread()
split estimate's packing behavior, and the staged gate-stream source."""

from __future__ import annotations

import os

import pytest

from pagopa_ecommerce_cdc_service_spark.plans.helpers import (
    _parse_bytes,
    spread,
    staged_stream,
)


def test_parse_bytes_suffixes():
    assert _parse_bytes("134217728", default=0) == 134217728
    assert _parse_bytes("134217728b", default=0) == 134217728
    assert _parse_bytes("128m", default=0) == 128 * 1024 * 1024
    assert _parse_bytes("128MB", default=0) == 128 * 1024 * 1024
    assert _parse_bytes("1g", default=0) == 1024**3
    assert _parse_bytes("64k", default=0) == 64 * 1024
    assert _parse_bytes("garbage", default=42) == 42


def test_spread_packs_small_files_like_spark(spark, tmp_path):
    # 8 tiny files still pack into ~1 actual scan partition → spread must
    # repartition (the old per-file >=1-split estimate would skip it)
    df = spark.range(0, 800)
    df.repartition(8).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    out = spread(scan, spark, min_parts=8)
    assert "Repartition" in out._jdf.queryExecution().logical().toString() or (
        "RepartitionByExpression" in out._jdf.queryExecution().logical().toString()
    )


def test_spread_noop_when_estimate_reaches_target(spark):
    # single ~11MB file = one genuine split: target 1 is already met
    big = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    assert spread(big, spark, min_parts=1) is big  # no extra shuffle
    # but a single file can never satisfy a multi-core target → fan out
    assert spread(big, spark, min_parts=2) is not big


def test_staged_stream_rejects_a_slice_whose_columns_differ(spark, tmp_path):
    # a by-name parquet read would turn the renamed / retyped column into
    # nulls without an error; the helper refuses before writing anything
    ok = spark.createDataFrame([(0, "t0")], "id long, text string")
    for bad in ("id long, body string", "id long, text int"):
        slices = [ok, ok, spark.createDataFrame([], bad)]
        with pytest.raises(ValueError, match="slice 2"):
            staged_stream(str(tmp_path / bad.replace(" ", "_")), slices)
    assert not any(p.suffix == ".parquet" for p in tmp_path.rglob("*"))


def test_staged_stream_schema_is_the_first_slice_and_is_not_inferred(spark, tmp_path):
    slices = [
        spark.createDataFrame([(i, f"t{i}")], "id long, text string") for i in range(3)
    ]
    sc = spark.sparkContext
    sc.setJobGroup("staged-stream-jobs", "staged_stream")
    try:
        stream = staged_stream(str(tmp_path), slices, held=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stream.isStreaming
    assert stream.schema == slices[0].schema
    # one write job per slice and nothing else: no job reads the staged
    # files back to infer their schema
    assert len(sc.statusTracker().getJobIdsForGroup("staged-stream-jobs")) == 3
    assert sorted(os.listdir(tmp_path / "src")) == ["part0.parquet", "part1.parquet"]
    assert os.listdir(tmp_path / "src.held") == ["part2.parquet"]
    mtimes = [
        os.path.getmtime(tmp_path / d / f"part{i}.parquet")
        for i, d in enumerate(["src", "src", "src.held"])
    ]
    assert mtimes == [1000.0, 2000.0, 3000.0]
