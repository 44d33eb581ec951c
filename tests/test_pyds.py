"""Unit tests for the custom Python DataSource (sources/pyds.py): batch ≡
stream, filter-pushdown SQL semantics, deterministic offset replay. The
end-to-end value-hash certification (two availableNow incarnations on one
checkpoint vs the DuckDB oracle) is the cdc_pyds_envelope_feed gate."""

from __future__ import annotations

import pytest

from pagopa_ecommerce_cdc_service_spark.sources import pyds

GOOD = (
    '{"id":"ev-1","transactionId":"tx-1","eventCode":"A","creationDate":"c1",'
    '"seq":1,"operationType":"insert","data":{"email":"e1"}}'
)
GOOD2 = (
    '{"id":"ev-2","transactionId":"tx-2","eventCode":"B","creationDate":"c2",'
    '"seq":2,"operationType":"delete"}'
)
NULL_ID = '{"id":null,"transactionId":"tx-3","eventCode":"A","seq":3}'
GARBAGE = "not json at all"


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "a.jsonl").write_text(f"{GOOD}\n{NULL_ID}\n")
    (d / "b.jsonl").write_text(f"{GOOD2}\n{GARBAGE}\n")
    return str(d)


@pytest.fixture()
def registered(spark):
    pyds.register(spark)
    return spark


def test_batch_read_parses_and_quarantines(registered, src_dir):
    df = registered.read.format(pyds.SOURCE_NAME).option("path", src_dir).load()
    rows = {tuple(r) for r in df.collect()}
    assert ("ev-1", "tx-1", "A", "c1", 1, "insert", "e1", None) in rows
    assert ("ev-2", "tx-2", "B", "c2", 2, "delete", None, None) in rows
    corrupt = {r["_corrupt"] for r in df.filter("_corrupt IS NOT NULL").collect()}
    assert corrupt == {NULL_ID, GARBAGE}


def test_pushdown_matches_post_scan_semantics(registered, src_dir):
    """A consumed filter must be applied with exact SQL semantics: NULL
    operationType (incl. quarantine rows) fails EqualTo, so the pushed
    result equals what Spark would compute re-filtering post-scan."""
    pushed = (
        registered.read.format(pyds.SOURCE_NAME)
        .option("path", src_dir)
        .option("pushdown", "true")
        .load()
        .filter("operationType = 'insert'")
        .collect()
    )
    # unpushed twin: the plain reader has no pushFilters, so Spark
    # evaluates the predicate post-scan
    plain = (
        registered.read.format(pyds.SOURCE_NAME)
        .option("path", src_dir)
        .load()
        .filter("operationType = 'insert'")
        .collect()
    )
    assert sorted(map(tuple, pushed)) == sorted(map(tuple, plain))
    assert len(pushed) == 1 and pushed[0]["id"] == "ev-1"


def test_stream_equals_batch_and_resumes(registered, src_dir, tmp_path):
    """availableNow drains ONE prefetched batch per incarnation; a second
    run on the same checkpoint resumes from the committed file offset. The
    union of both runs' output equals the batch read."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            registered.readStream.format(pyds.SOURCE_NAME)
            .option("path", src_dir)
            .option("maxFilesPerBatch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    drain()
    first = registered.read.parquet(out).count()
    assert first == 2  # file a only
    drain()
    got = {tuple(r) for r in registered.read.parquet(out).collect()}
    want = {
        tuple(r)
        for r in registered.read.format(pyds.SOURCE_NAME)
        .option("path", src_dir)
        .load()
        .collect()
    }
    assert got == want


def test_read_between_offsets_replays_exact_range(src_dir):
    rdr = pyds.EnvelopeJsonlStreamReader({"path": src_dir})
    assert rdr.initialOffset() == {"pos": 0}
    batch, off = rdr.read({"pos": 0})
    assert off == {"pos": 1} and len(batch) == 2
    replay = rdr.readBetweenOffsets({"pos": 0}, {"pos": 1})
    assert list(replay) == list(batch)
    rest, off2 = rdr.read(off)
    assert off2 == {"pos": 2} and len(rest) == 2
    # drained: offset stops advancing
    empty, off3 = rdr.read(off2)
    assert off3 == {"pos": 2} and empty == []


def test_missing_path_is_an_error(registered):
    with pytest.raises(Exception, match="path"):
        registered.read.format(pyds.SOURCE_NAME).load().collect()


def test_type_surprises_quarantine_not_crash(registered, tmp_path):
    """A valid-JSON object with a non-integer seq (or any in-object type
    surprise) must quarantine, never fail the scan — the tolerant-parse
    contract that keeps a restarting stream from wedging on one file."""
    d = tmp_path / "bad"
    d.mkdir()
    bad_seq = '{"id":"a","transactionId":"b","eventCode":"C","seq":"oops"}'
    bad_seq2 = '{"id":"a2","transactionId":"b2","eventCode":"C2","seq":[1]}'
    (d / "x.jsonl").write_text(f"{bad_seq}\n{bad_seq2}\n{GOOD}\n")
    df = (
        registered.read.format(pyds.SOURCE_NAME)
        .option("path", str(d))
        .load()
    )
    rows = df.collect()
    assert len(rows) == 3
    corrupt = {r["_corrupt"] for r in rows if r["_corrupt"] is not None}
    assert corrupt == {bad_seq, bad_seq2}


def test_envelope_feed_matches_oracle_from_foreign_cwd(query_from_foreign_cwd):
    """The Python data-source planner runs in its own Python worker, which
    never sees the addPyFile zip: it must still import the package when the
    process cwd is not the repo root."""
    query_from_foreign_cwd("cdc_pyds_envelope_feed")
