from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from arroyo_spark.session import get_spark

    s = get_spark(app_name="arroyo_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


@pytest.fixture
def read_profile():
    """Read a QueryProfiler ``<query>.jsonl`` once its closing line (the one
    with ``exception``) is there: listener events arrive asynchronously."""

    def read(path: str, timeout_s: float = 30.0) -> list[dict]:
        deadline = time.time() + timeout_s
        while True:
            recs = [json.loads(line) for line in open(path)] if os.path.exists(path) else []
            if (recs and "exception" in recs[-1]) or time.time() > deadline:
                return recs
            time.sleep(0.2)

    return read


@pytest.fixture
def jobs_run_by(spark):
    """How many Spark jobs ``fn()`` starts, counted through job group ``group``."""

    def count(fn, group: str) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
