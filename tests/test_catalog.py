"""Fixture reads through the schema memo (catalog.read_parquet): a repeat
read of the same file starts no Spark job, and the memo never serves a
stale or wrong schema — not for a file rewritten at the same path, not
for either timestamp generation of events.parquet, and not for a session
whose inference settings differ from the one that filled the memo."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType, TimestampType

from cdw_spark.catalog import FIXTURE_TABLES, file_identity, load_fixture, read_parquet


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_repeat_load_fixture_starts_no_job(spark, sf_dir):
    for name in FIXTURE_TABLES:
        load_fixture(spark, sf_dir, name)
        before = _jobs(spark)
        load_fixture(spark, sf_dir, name)
        assert _jobs(spark) == before, name


def test_rewritten_fixture_gets_its_new_columns(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_fixture(spark, str(tmp_path), "region").columns == ["a", "b"]

    first = file_identity(str(path))
    pq.write_table(pa.table({"k": [7], "v": [0.5], "w": ["z"]}), path)
    assert file_identity(str(path)) != first
    df = load_fixture(spark, str(tmp_path), "region")
    assert df.columns == ["k", "v", "w"]
    assert [tuple(r) for r in df.collect()] == [(7, 0.5, "z")]


def test_events_nanos_and_micros_generations_load_equal(spark, sf_dir, tmp_path):
    """Both fixture generations of events.ts — TIMESTAMP(NANOS) and
    timestamp[us] — load as TimestampType with the same values."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = events.schema.get_field_index("ts")
    loaded = []
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        gen = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(gen, d / "events.parquet")
        assert f"timeUnit={'nanoseconds' if unit == 'ns' else 'microseconds'}" in str(
            pq.ParquetFile(d / "events.parquet").schema
        )
        df = load_fixture(spark, str(d), "events")
        assert df.schema["ts"].dataType == TimestampType()
        loaded.append(df)
    ns, us = loaded
    assert ns.schema == us.schema
    assert sorted(ns.collect()) == sorted(us.collect())


def test_inference_settings_are_part_of_the_memo_key(spark, sf_dir):
    """A session with inferTimestampNTZ off gets what a footer read gives
    it, even after a session with it on filled the memo for the file."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = os.path.join(sf_dir, "lineitem.parquet")
    old = spark.conf.get(conf)
    try:
        for value, ship_type in (("true", TimestampNTZType()), ("false", TimestampType())):
            spark.conf.set(conf, value)
            memo = read_parquet(spark, path, file_identity(path)).schema
            assert memo == spark.read.parquet(path).schema
            assert memo["l_shipdate"].dataType == ship_type
            df = load_fixture(spark, sf_dir, "lineitem")
            assert df.schema["l_shipdate"].dataType == TimestampType()
    finally:
        spark.conf.set(conf, old)


def test_concurrent_first_reads_all_get_the_footer_schema(spark, tmp_path):
    """Threads racing on files the memo has not seen (the plan-hygiene
    sweep plans on 8 threads) may infer a schema twice, never a wrong
    one."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    names = [f"t{i}" for i in range(4)]
    for i, name in enumerate(names):
        cols = {f"c{j}": [j] for j in range(i + 1)}
        pq.write_table(pa.table(cols), tmp_path / f"{name}.parquet")
    footer = {n: spark.read.parquet(str(tmp_path / f"{n}.parquet")).schema for n in names}

    def read_all(_):
        return {n: load_fixture(spark, str(tmp_path), n).schema for n in names}

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(read_all, k) for k in range(32)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert all(r == footer for r in results)
