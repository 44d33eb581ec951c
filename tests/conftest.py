from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from pagopa_ecommerce_cdc_service_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="cdc-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
            # thread-stack headroom for long suite sessions: one flake was
            # a java.util.regex StackOverflowError on a stream execution
            # thread (default -Xss) after ~600 tests in one JVM; which
            # regex overflows is still not root-caused
            "spark.driver.extraJavaOptions": "-Xss16m",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


# Queries pinned against their DuckDB oracles from a foreign cwd; their
# oracles read only `events`. All of them run in ONE subprocess (one JVM
# start) when the first test asks for the fixture.
FOREIGN_CWD_QUERIES = (
    "cdc_pyds_envelope_feed",
    "cdc_bootstrap_handoff",
    "w_stream_tumbling_hourly",
)

_FOREIGN_CWD_SCRIPT = """
import sys
import traceback
sys.path.insert(0, {repo!r})
import __spark_entry__ as entry
from pagopa_ecommerce_cdc_service_spark.session import build_session
spark = build_session(master="local[2]", shuffle_partitions=2)
for name in {names!r}:
    try:
        entry.queries()[name](spark, {sf_dir!r}).toPandas().to_pickle(name + ".pkl")
    except Exception:
        with open(name + ".err", "w") as f:
            f.write(traceback.format_exc())
spark.stop()
"""


@pytest.fixture(scope="session")
def query_from_foreign_cwd(tmp_path_factory, sf_dir):
    """Run every name in ``FOREIGN_CWD_QUERIES`` in one fresh process whose
    cwd is not the repo root (the repo root reaches sys.path only through
    the script, never through PYTHONPATH); ``run(name)`` asserts that
    query's result matches its DuckDB oracle."""
    cwd = tmp_path_factory.mktemp("foreign-cwd")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = _FOREIGN_CWD_SCRIPT.format(
        repo=str(REPO_ROOT), names=FOREIGN_CWD_QUERIES, sf_dir=sf_dir
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )

    def run(name: str) -> None:
        import duckdb
        import pandas as pd

        import __spark_entry__ as entry_mod
        from tools.compare import kind_diff, normalize

        assert name in FOREIGN_CWD_QUERIES
        assert proc.returncode == 0, proc.stderr[-4000:]
        err = cwd / f"{name}.err"
        assert not err.exists(), err.read_text()[-4000:]
        spark_pd = pd.read_pickle(cwd / f"{name}.pkl")

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
            oracle_pd = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
        finally:
            con.close()
        assert len(spark_pd) == len(oracle_pd) > 0
        assert not kind_diff(spark_pd, oracle_pd)
        assert normalize(spark_pd) == normalize(oracle_pd)

    return run
