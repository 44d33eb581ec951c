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


def pytest_collection_modifyitems(config, items):
    # test_view_state_ttl_wiring_executes_end_to_end flaked three times
    # across rounds (6, 8, 13), ALWAYS under full-suite load and always
    # green in isolation — round 13's mechanism was a java.util.regex
    # StackOverflowError killing the JVM stream-execution thread late in a
    # long suite session. Run it FIRST: a fresh, unloaded JVM is exactly
    # the isolated-run condition under which it has never failed, and the
    # reordering costs nothing (the session fixture builds on first use).
    front = [
        it for it in items if "test_view_state_ttl_wiring_executes_end_to_end" in it.name
    ]
    if front:
        rest = [it for it in items if it not in front]
        items[:] = front + rest


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="cdc-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
            # thread-stack headroom for long suite sessions: round 13's one
            # flake was a java.util.regex StackOverflowError on a stream
            # execution thread (default -Xss) after ~600 tests in one JVM
            "spark.driver.extraJavaOptions": "-Xss16m",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as entry
from pagopa_ecommerce_cdc_service_spark.session import build_session
spark = build_session(master="local[2]", shuffle_partitions=2)
entry.queries()[{name!r}](spark, {sf_dir!r}).toPandas().to_pickle({out!r})
spark.stop()
"""


@pytest.fixture()
def query_from_foreign_cwd(tmp_path, sf_dir):
    """Run a registered query in a fresh process whose cwd is not the repo
    root (the repo root reaches sys.path only through the script, never
    through PYTHONPATH) and assert it matches its DuckDB oracle."""

    def run(name: str) -> None:
        import duckdb
        import pandas as pd

        import __spark_entry__ as entry_mod
        from tools.compare import kind_diff, normalize

        out = str(tmp_path / f"{name}.pkl")
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        script = _FOREIGN_CWD_SCRIPT.format(
            repo=str(REPO_ROOT), name=name, sf_dir=sf_dir, out=out
        )
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        spark_pd = pd.read_pickle(out)

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
