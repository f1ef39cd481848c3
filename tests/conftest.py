import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Default SF for fast iteration. The driver's correctness gate runs at
# sf0.01 — before any round snapshot, ALSO run the parity suite there
# (`make parity-gate`): sf0.001-only green has missed sf-dependent
# divergence before (empty groups, quantile ties).
SF_DIR = os.environ.get("PYSTREAMS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pystreams_spark.session import get_spark

    # PYSTREAMS_TEST_SHUFFLE lets the parity suite re-run under a
    # different partitioning (e.g. 5 or 97) — a full-suite
    # partitioning-independence sweep: any query whose result depends
    # on partition count fails the oracle compare. Cores follow
    # SPARK_GRAFT_CPUS (the box's core count); partitions stay at 8
    s = get_spark(
        app_name="pystreams-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        shuffle_partitions=int(os.environ.get("PYSTREAMS_TEST_SHUFFLE", "8")),
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the fixture tables registered as views,
    mirroring the driver's oracle setup (__spark_entry__.py docstring)."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
