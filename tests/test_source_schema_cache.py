"""The loader's parquet schema cache (sources/tpch.py:parquet_schema).

A bare ``spark.read.parquet(path)`` runs a footer-reading Spark job on
every call. The loader infers each file's schema once per file version and
reuses it, so these tests pin: no job on a repeat load, re-inference when
the file is rewritten in place, fresh attribute IDs on every load (the
cache holds schemas, never DataFrames), and correct results when two
threads race on a cold entry.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, TimestampNTZType

from spotify_tags_etl_spark.sources.tpch import _fingerprint, load_table, parquet_schema
from tests.test_events_encoding import _EXPECTED_NS, ENCODINGS, _write_events


@contextlib.contextmanager
def _jobs_in_group(spark, group: str):
    """Collect the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # Job-start events reach the status store through the listener bus.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(sf_dir: str, tmp_path, name: str) -> str:
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_repeat_load_submits_no_job(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "customer")
    with _jobs_in_group(spark, "schema_cache_cold") as cold:
        load_table(spark, d, "customer")
    # The probe sees the inference job, so an empty list below is real.
    assert cold, "a cold load must run the footer-inference job"
    with _jobs_in_group(spark, "schema_cache_warm") as warm:
        df = load_table(spark, d, "customer")
    assert warm == []
    assert df.count() == spark.read.parquet(os.path.join(d, "customer.parquet")).count()


def test_rewrite_in_place_reinfers(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "events.parquet")
    _write_events(path, ENCODINGS["usec_ntz"])
    first = load_table(spark, d, "events")
    assert [r.ts_ns for r in first.orderBy("event_id").collect()] == _EXPECTED_NS
    assert isinstance(parquet_schema(spark, path)["ts"].dataType, TimestampNTZType)

    _write_events(path, ENCODINGS["nanos"])
    assert isinstance(parquet_schema(spark, path)["ts"].dataType, LongType)
    second = load_table(spark, d, "events")
    dtypes = dict(second.dtypes)
    assert (dtypes["ts"], dtypes["ts_ns"]) == ("timestamp", "bigint")
    assert [r.ts_ns for r in second.orderBy("event_id").collect()] == _EXPECTED_NS


def test_self_join_of_two_loads_is_not_trivially_true(spark, sf_dir):
    a = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 10)
    b = load_table(spark, sf_dir, "customer")
    joined = a.join(b, a["c_custkey"] == b["c_custkey"])
    # c_custkey is unique. A shared relation would resolve both sides to
    # one attribute and degenerate to an |a| x |customer| cross join.
    n = a.count()
    assert 0 < n < b.count()
    assert joined.count() == n


def test_concurrent_cold_loads_agree(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "orders")
    expected = spark.read.parquet(os.path.join(d, "orders.parquet")).agg(
        F.count("*"), F.sum("o_orderkey")
    ).first()
    start = threading.Barrier(2)

    def load(_):
        start.wait()
        return load_table(spark, d, "orders").agg(F.count("*"), F.sum("o_orderkey")).first()

    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(load, range(2)))
    assert results == [expected, expected]


def test_schema_confs_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(parquet_schema(spark, path)["b"].dataType, BinaryType)
        spark.conf.set(key, "true")
        assert isinstance(parquet_schema(spark, path)["b"].dataType, StringType)
    finally:
        spark.conf.set(key, before)


def test_directory_fingerprint_covers_data_files_only(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1]}), d / "part-0.parquet")
    base = _fingerprint(str(d))
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("")
    assert _fingerprint(str(d)) == base
    pq.write_table(pa.table({"x": [2]}), d / "part-1.parquet")
    assert _fingerprint(str(d)) != base
    assert _fingerprint(str(tmp_path / "missing.parquet")) is None
