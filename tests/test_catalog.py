"""The source catalog's held schemas: a repeat ``load_table`` of an
unchanged file runs no Spark job, yet every load is a fresh relation
analyzed under the session's current settings."""

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from delta_lake_play_spark.sources import catalog
from delta_lake_play_spark.sources.catalog import load_table, source_schema
from tests.conftest import spark_jobs

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def cold():
    """Start from an empty schema memo."""
    catalog._SCHEMAS.clear()
    yield
    catalog._SCHEMAS.clear()


def test_warm_load_runs_no_job_and_matches_cold(spark, sf_dir, cold):
    with spark_jobs(spark) as cold_jobs:
        first = load_table(spark, sf_dir, "orders")
    with spark_jobs(spark) as warm_jobs:
        second = load_table(spark, sf_dir, "orders")
    assert cold_jobs  # the inference job
    assert warm_jobs == []
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_two_loads_self_join(spark, sf_dir, cold):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    keys = {r[0] for r in a.select("o_orderkey").collect()}
    want = sum(1 for k in keys if k + 1 in keys)
    got = a.join(b, a["o_orderkey"] == b["o_orderkey"] - 1).count()
    assert got == want > 0


def test_rewritten_file_is_reread(spark, tmp_path, cold):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "x": [10, 20]}), path)
    assert load_table(spark, str(tmp_path), "t").schema["x"].dataType == T.LongType()
    pq.write_table(pa.table({"k": [1, 2], "x": ["a", "bc"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema["x"].dataType == T.StringType()
    assert _rows(df) == [(1, "a"), (2, "bc")]


def test_nanos_file_floors_to_micros(spark, tmp_path, cold):
    ns = [1_700_000_000_123_456_789, 1_999]
    table = pa.table({"k": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "e.parquet"))
    for _ in range(2):  # cold, then from the held schema
        df = load_table(spark, str(tmp_path), "e")
        assert df.schema["ts"].dataType == T.TimestampType()
        got = df.selectExpr("k", "unix_micros(ts)").collect()
        assert sorted(tuple(r) for r in got) == [(1, 1_700_000_000_123_456), (2, 1)]


def test_directory_table_loads(spark, tmp_path, cold):
    d = tmp_path / "p.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"k": [3]}), str(d / "part-1.parquet"))
    assert _rows(load_table(spark, str(tmp_path), "p")) == [(1,), (2,), (3,)]
    with spark_jobs(spark) as jobs:
        load_table(spark, str(tmp_path), "p")
    assert jobs == []
    pq.write_table(pa.table({"k": [4]}), str(d / "part-2.parquet"))
    assert _rows(load_table(spark, str(tmp_path), "p")) == [(1,), (2,), (3,), (4,)]


def test_ntz_schema_not_reused_after_inference_setting_changes(spark, sf_dir, cold):
    path = os.path.join(sf_dir, "orders.parquet")
    before = _rows(load_table(spark, sf_dir, "orders"))
    assert source_schema(spark, path)[0]["o_orderdate"].dataType == T.TimestampNTZType()
    old = spark.conf.get(NTZ_CONF)
    spark.conf.set(NTZ_CONF, "false")
    try:
        assert source_schema(spark, path)[0]["o_orderdate"].dataType == T.TimestampType()
        df = load_table(spark, sf_dir, "orders")
        assert df.schema["o_orderdate"].dataType == T.TimestampType()
        assert _rows(df) == before
    finally:
        spark.conf.set(NTZ_CONF, old)


def test_concurrent_loads_under_eviction(spark, tmp_path, cold, monkeypatch):
    """Threads loading more files than the memo holds each get their
    own file's schema: a lost update or a stale hit would hand one
    file another's column type."""
    types = [pa.int64(), pa.string(), pa.float64(), pa.bool_(), pa.int32()]
    for i, t in enumerate(types):
        pq.write_table(pa.table({"x": pa.array([], t)}), str(tmp_path / f"f{i}.parquet"))
    want = {f"f{i}": load_table(spark, str(tmp_path), f"f{i}").schema for i in range(len(types))}
    catalog._SCHEMAS.clear()
    monkeypatch.setattr(catalog, "_SCHEMAS_MAX", 2)
    errors = []

    def worker(k):
        try:
            for j in range(6):
                name = f"f{(k + j) % len(types)}"
                got = load_table(spark, str(tmp_path), name).schema
                if got != want[name]:
                    errors.append((name, got))
        except Exception as exc:  # noqa: BLE001 — reported by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(catalog._SCHEMAS) <= 2
