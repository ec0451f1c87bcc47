"""Catalog management: register / create / drop / reset tables.

Mirrors /root/reference/create_tables.py (DROP IF EXISTS x7 then CREATE IF
NOT EXISTS x7 — a full idempotent reset, create_tables.py:6-27,40-41) on the
Spark session catalog, plus registration of the driver's parquet fixture
tables (TESTDATA.md) as temp views so the whole engine is queryable through
``spark.sql``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import ALL_TABLES

# Driver-generated fixture tables (/root/testdata/sf*/..., TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def file_identity(path: str) -> tuple[str, int, int]:
    """``(abspath, size, mtime_ns)``: what tells one generation of a file
    from the next one written at the same path. Everything derived from a
    fixture (memoized schemas, at-rest artifacts, staged stream copies) is
    keyed on it, so a regenerated fixture is never served stale."""
    p = os.path.abspath(path)
    st = os.stat(p)
    return p, st.st_size, st.st_mtime_ns


# Session settings that change what a footer read infers from one file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_schemas: dict[tuple, StructType] = {}


def read_parquet(
    spark: SparkSession, path: str, key, schema: StructType | None = None
) -> DataFrame:
    """Scan ``path`` with a declared schema, so Spark starts no job to read
    parquet footers.

    ``key`` names immutable content: a :func:`file_identity`, or a
    content-keyed directory that is never rewritten. The schema is
    ``schema`` when the caller already knows it (it is remembered under
    ``key``); otherwise it is inferred from the footers once per ``key``
    and inference settings, and remembered for the life of the process.
    Two threads racing on a new key only infer it twice."""
    k = (key, *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    if schema is not None:
        _schemas[k] = schema
    else:
        schema = _schemas.get(k)
        if schema is None:
            schema = _schemas[k] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def forget_schemas(root: str) -> None:
    """Drop remembered schemas keyed on ``root`` or a directory under it
    (the artifact store calls this when it deletes artifacts)."""
    for k in list(_schemas):
        key = k[0]
        if isinstance(key, str) and (key == root or key.startswith(root + os.sep)):
            _schemas.pop(k, None)


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan: column pruning + predicate
    pushdown come free from the declarative plan — never .cache() these;
    at 100 TB the scan with pushed filters IS the fast path.

    Schema-on-read with a declared schema (SURVEY §1.2): the footer schema
    is inferred once per file identity and inference settings
    (:func:`read_parquet`), so a repeat read of the same file starts no
    Spark job; a fixture rewritten at the same path has a new identity and
    is inferred afresh.

    Timestamp normalization: fixture generations have varied — events.ts
    has been TIMESTAMP(NANOS) (vectorized reader rejects; read nanos as
    long and truncate) and plain timestamp[us] with isAdjustedToUTC=false
    (Spark 4 infers TIMESTAMP_NTZ, which functions like ``unix_millis``
    reject). Both are normalized to session-UTC TimestampType: under a UTC
    session the NTZ→LTZ cast is wall-clock-identical, which is exactly how
    DuckDB reads the same parquet (naive timestamp), so oracles agree.
    tests/test_catalog.py writes both generations and pins them equal."""
    # Engine semantic (SURVEY.md §4): all timestamp arithmetic is UTC — the
    # reference's `TIMESTAMP 'epoch' + …` is UTC arithmetic. Pin the session
    # TZ here so results are correct even on a caller-built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(NANOS) reads as long (converted below). Set for every table,
    # not only events: the setting is part of the schema memo's key, and a
    # session that flipped it at its first events read would infer every
    # table read before that once more.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path, file_identity(path))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_fixtures(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Register every fixture parquet as a temp view named after the table."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_fixture(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --- reference DDL lifecycle (create_tables.py equivalents) ---------------


def drop_tables(spark: SparkSession, names: tuple[str, ...] | None = None) -> None:
    """DROP TABLE IF EXISTS for each table — create_tables.py:6-15."""
    for name in names or tuple(ALL_TABLES):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def create_tables(spark: SparkSession, names: tuple[str, ...] | None = None) -> None:
    """CREATE TABLE IF NOT EXISTS with the reference schemas
    (sql_queries.py:24-118) as managed parquet tables."""
    for name in names or tuple(ALL_TABLES):
        schema = ALL_TABLES[name]
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet")


def reset(spark: SparkSession) -> None:
    """Full reset: drop-then-create, idempotent — the create_tables.py main
    (create_tables.py:30-43)."""
    drop_tables(spark)
    create_tables(spark)
