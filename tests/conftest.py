"""Shared pytest fixtures.

One SparkSession per test run (session-scoped — JVM startup is ~10 s,
per-test sessions would dominate runtime). Shuffle partitions kept
small locally; production sizing notes live in session.py.
"""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from bigdata_riveranalysis_spark.session import get_spark

    spark = get_spark("engine-tests", shuffle_partitions=8)
    yield spark


@contextlib.contextmanager
def checkpoint_dir(spark, path):
    """Give the session's SparkContext a checkpoint dir for the block
    (staging's durable mode), and remove it on exit so no later test
    runs durable on the shared session."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        sc._jsc.sc().setCheckpointDir(None)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
