"""Local replica of the driver's correctness gate: run every ``queries()``
entry on Spark AND its ``oracle_sql()`` on DuckDB over the same parquet
tables; compare row-count, column names, and order-insensitive values
(exact — the suite's decimal-exact discipline makes doubles bit-identical).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(autouse=True)
def _release_query_caches(spark):
    """Queries may persist() relations for their own multi-arm re-reads
    (t_corpus_pipeline_chunked / t_pack_capacity_train discipline); in this
    long-lived 260+-query session each leaked relation compounds. Queries
    are independent — nothing may outlive its own test."""
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    # DuckDB 1.0's statistics-propagation pass spends ~70 s planning the
    # ~19 KB e_ivf_opq_tuning_grid oracle (it is an optimizer pass: every
    # oracle returns the same rows and dtypes with it off)
    con.execute("SET disabled_optimizers = 'statistics_propagation'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


# streaming twins reuse their batch query's oracle SQL verbatim (e.g.
# t_stream_winnow_pairs, ~2 min in DuckDB): run each distinct oracle once
_ORACLE_RESULTS: dict[str, object] = {}


def _oracle_result(duck, sql):
    if sql not in _ORACLE_RESULTS:
        _ORACLE_RESULTS[sql] = duck.execute(sql).fetchdf()
    return _ORACLE_RESULTS[sql]


# the one comparison function, shared verbatim with tools/gate_preflight.py
# (round-13 ADVICE: two checkers, one semantics)
from tools.compare import kind_diff as _kind_diff  # noqa: E402
from tools.compare import normalize as _normalize  # noqa: E402


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_pd = sdf.toPandas()

    if name not in ORACLES:
        pytest.skip(f"{name}: rows-only check (no oracle SQL)")
    oracle_pd = _oracle_result(duck, ORACLES[name])

    assert len(spark_pd) == len(oracle_pd), (
        f"{name}: row count {len(spark_pd)} (spark) != {len(oracle_pd)} (duckdb)"
    )
    s_cols, s_rows = _normalize(spark_pd)
    o_cols, o_rows = _normalize(oracle_pd)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != {o_cols}"
    # dtype-KIND parity: Python's 1 == 1.0 makes the value compare blind to
    # an int column coming back float from one engine (e.g. DuckDB window
    # sums are HUGEINT → float64 in pandas); the driver's hash gate is not
    kd = _kind_diff(spark_pd, oracle_pd)
    assert not kd, f"{name}: dtype-kind mismatch {kd}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first: "
        f"spark={mismatches[0][1]} duckdb={mismatches[0][2]}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.schema.fieldNames()[0] == "transactionId"
