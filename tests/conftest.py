from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def session_scratch():
    """Engine scratch (stream checkpoints, sink tables) goes to one
    directory per session, on the tmpfs when it is writable, removed at
    teardown: callers of ``scratch_dir`` never delete theirs."""
    import shutil
    import tempfile

    from table_demo_spark import scratch

    root = tempfile.mkdtemp(prefix="tds-tests-", dir=scratch.scratch_root())
    scratch._SHM = root
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    from table_demo_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from table_demo_spark.sources.batch import TABLES

    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def spark_lazy(spark):
    """Callable returning the session — lets hypothesis-driven tests
    take the (function-scope-incompatible) session fixture lazily."""
    return lambda: spark
