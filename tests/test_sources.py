"""The memoized TPC-H quad source (``sources/tpch_quads.quads_df``): one
built DataFrame per live session, ``sf_dir`` and version of the four
source files."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from ontograph_spark.sources import tpch_quads
from ontograph_spark.sources.tpch_quads import quads_df

SUPPLIERS, CUSTOMERS = 10, 30


def write_tables(root) -> str:
    """region/nation/supplier/customer with the TPC-H column types."""
    os.makedirs(root, exist_ok=True)
    i32 = pa.int32()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": [f"REGION_{k}" for k in range(5)],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        },
        "supplier": {
            "s_suppkey": pa.array(range(SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(SUPPLIERS)],
            "s_nationkey": pa.array([k % 25 for k in range(SUPPLIERS)], i32),
            "s_acctbal": [k * 10.25 for k in range(SUPPLIERS)],
        },
        "customer": {
            "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(CUSTOMERS)],
            "c_nationkey": pa.array([k % 25 for k in range(CUSTOMERS)], i32),
            "c_acctbal": [k * 3.5 - 50 for k in range(CUSTOMERS)],
            "c_mktsegment": ["BUILDING", "MACHINERY"] * (CUSTOMERS // 2),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return str(root)


@pytest.fixture
def sf_dir(tmp_path):
    return write_tables(tmp_path / "sf")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def jobs_fired(spark, fn):
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_call_fires_no_jobs(spark, sf_dir):
    first, n_first = jobs_fired(spark, lambda: quads_df(spark, sf_dir))
    second, n_second = jobs_fired(spark, lambda: quads_df(spark, sf_dir))
    assert n_first > 0  # the schema reads of the first build
    assert n_second == 0
    assert second is first


def test_rows_equal_unmemoized_build(spark, sf_dir):
    assert rows(quads_df(spark, sf_dir)) == rows(tpch_quads._build(spark, sf_dir))


def test_rewritten_file_is_read_again(spark, sf_dir):
    """New rows written over a source file at the same path show up in the
    next call, through a rebuilt DataFrame."""
    first = quads_df(spark, sf_dir)
    before = rows(first)
    path = os.path.join(sf_dir, "region.parquet")
    region = pq.read_table(path)
    key = region["r_regionkey"]
    more = region.set_column(
        0, "r_regionkey", pc.add(key, pa.scalar(len(region), key.type))
    )
    pq.write_table(pa.concat_tables([region, more]), path)
    again = quads_df(spark, sf_dir)
    assert again is not first
    after = rows(again)
    assert len(after) - len(before) == 3 * len(region)  # three quads per region
    assert after == rows(tpch_quads._build(spark, sf_dir))


def test_parquet_directory_source(spark, sf_dir):
    """A table stored as a parquet directory is keyed on its leaf files."""
    path = os.path.join(sf_dir, "customer.parquet")
    customer = pq.read_table(path)
    os.remove(path)
    os.mkdir(path)
    pq.write_table(customer, os.path.join(path, "part-0.parquet"))
    first = quads_df(spark, sf_dir)
    assert quads_df(spark, sf_dir) is first
    n = first.count()
    pq.write_table(customer.slice(0, 1), os.path.join(path, "part-1.parquet"))
    again = quads_df(spark, sf_dir)
    assert again is not first
    assert again.count() - n == 6  # six quads per customer row


def test_new_session_gets_its_own_dataframe(spark, sf_dir):
    old = quads_df(spark, sf_dir)
    other = spark.newSession()
    new = quads_df(other, sf_dir)
    assert new is not old
    assert new.sparkSession is other
    assert rows(new) == rows(old)


def test_memo_is_bounded(spark, tmp_path):
    limit = tpch_quads._memo_build.cache_info().maxsize
    for i in range(limit + 2):
        quads_df(spark, write_tables(tmp_path / f"sf{i}"))
    assert tpch_quads._memo_build.cache_info().currsize == limit


def test_stopped_session_plan_is_not_reused(sf_dir):
    """Stop a session, start another in the same process: the stopped
    session's plan is not handed out again, and the new session builds its
    own DataFrame and can run it. Runs in a child process so the suite's
    shared session stays up."""
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        from ontograph_spark.sources.tpch_quads import quads_df

        def session():
            return (SparkSession.builder.master("local[1]")
                    .config("spark.ui.enabled", "false")
                    .config("spark.sql.shuffle.partitions", "2").getOrCreate())

        a = session()
        old = quads_df(a, {sf_dir!r})
        n = old.count()
        a.stop()
        try:
            stale = quads_df(a, {sf_dir!r})
        except Exception:
            stale = None
        assert stale is not old, "a stopped session's plan was handed out"
        b = session()
        new = quads_df(b, {sf_dir!r})
        assert b is not a and new is not old and new.sparkSession is b
        assert new.count() == n
        b.stop()
        print("ok")
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
