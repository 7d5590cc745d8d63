"""Shared fixtures: one SparkSession per test run, one DuckDB oracle conn.

Mirrors the driver's verify harness: queries run at sf0.01 against DuckDB
views named exactly like the fixture tables (FIXTURES.md, last section).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from python_kinesis_streaming_spark.session import build_session
from python_kinesis_streaming_spark.sources.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="pkss-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_confs={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def plan_corpus(spark, sf_dir):
    """{name: (DataFrame, formatted_plan)} for every LAZY batch op, built
    ONCE per session under the deterministic cleared-cache / no-table-cache
    regime (CLAUDE.md invariant 4).

    The two registry-wide plan sweeps (test_global_window_bounded,
    test_plans::test_no_unbounded_nested_loop_anywhere) and the
    registry-wide schema gate each used to rebuild every op's DataFrame
    just to look at its plan — ~250 s of catalyst work per sweep, the two
    slowest tests in the suite (295 s + 208 s at r15 start). One shared
    build pays that cost once (VERDICT r14 item 2: the driver's verify
    must finish inside its budget).

    Ops are built SEQUENTIALLY in registration order: ops that call
    .cache() at build time register CacheManager entries, and later ops'
    plans substitute matching cached subtrees — a fixed build order is
    what makes the pinned shuffle counts reproducible (the same reason
    the old sweeps cleared the cache first).
    """
    import os

    from python_kinesis_streaming_spark.plans import plan_of
    from python_kinesis_streaming_spark.registry import all_queries
    from python_kinesis_streaming_spark.sources import tables as _tables
    from tests.corpus_sets import executing_on_build

    prev = os.environ.get("SPARK_GRAFT_NO_TABLE_CACHE")
    os.environ["SPARK_GRAFT_NO_TABLE_CACHE"] = "1"
    spark.catalog.clearCache()
    _tables._CACHE.clear()
    corpus: dict[str, tuple] = {}
    try:
        skip = executing_on_build()
        for name, fn in all_queries().items():
            if name in skip:
                continue
            df = fn(spark, sf_dir)
            corpus[name] = (df, plan_of(df, "formatted"))
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_NO_TABLE_CACHE", None)
        else:
            os.environ["SPARK_GRAFT_NO_TABLE_CACHE"] = prev
        _tables._CACHE.clear()  # later tests re-cache lazily
        # ops that .cache() at build time leave CacheManager entries; drop
        # them so later plan pins never depend on where the corpus built
        spark.catalog.clearCache()
    return corpus
