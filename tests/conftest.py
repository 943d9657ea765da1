"""Shared fixtures: one SparkSession and one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_UNIT = os.environ.get("TROPOLOGY_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("TROPOLOGY_ORACLE_SF", "/root/testdata/sf0.01")

from tropology_spark.sources.tables import TABLES  # noqa: E402


def _driver_memory() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(4096, total_kb // 4 // 1024)}m"


@pytest.fixture(scope="session")
def spark():
    from tropology_spark.session import get_spark

    # Round-20 (VERDICT r19 item 1, suite-fits-the-verify-budget): 16
    # cores for the test session — the sandbox has 32 and the suite is
    # Spark-throughput-bound (the registry-wide sweeps halved when
    # measured at 16 vs 8: trivially-empty 124.5 -> 59.6 s).  Bench
    # still uses the full count via its own env.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    # The session default heap (16g) can exceed the host's RAM, and a
    # lazily collected heap then grows until the kernel kills the JVM
    # mid-suite.  Size it like perfbench: a quarter of RAM, capped at 4g
    # (the suite's tables are sf0.01 at most).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_memory())
    spark = get_spark("tropology-tests")
    yield spark
    spark.stop()


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_oracle():
    con = make_duckdb(SF_ORACLE)
    yield con
    con.close()
