"""Batch file sources: Parquet (primary), CSV, JSON.

Parquet is the engine's storage format — columnar scans get predicate pushdown,
column pruning, and vectorized reads from Catalyst for free (SURVEY §4.2).

Schema memo: `spark.read.parquet(path)` without a schema runs a Spark job
that reads footers to infer it (36 ms CPU per read on a 4-vCPU host, 3.3 ms
with an explicit schema), and a warm session re-reads the same tables for
every query. `read_parquet` therefore infers each path's `StructType` once
per file version and rebuilds the relation from it with
`spark.read.schema(s).parquet(path)` -- a fresh relation on every call, not
a shared DataFrame, so self-joins keep distinct attributes. The memo holds
one entry per path, replaced when its key changes:
- the stamp: `(mtime_ns, size, inode)` of the path and of every file under
  it, so a rewritten file or a directory table that gains, loses or
  rewrites a file is inferred again;
- the session confs that change what parquet inference returns
  (`_INFER_CONFS`).
A path that is not on the local file system (a URI, a glob) has no stamp
and is inferred on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Testdata physical quirk: events.ts is parquet TIMESTAMP(NANOS), which Spark
# only reads via the nanosAsLong escape hatch (as a long of epoch-nanos).
# Convert to TIMESTAMP_NTZ at μs precision — the same truncation DuckDB applies
# when it narrows ns→μs, so oracle comparisons line up.
_NANO_TS_COLS = {"events": ("ts",)}


def _nanos_to_ntz(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    for c in cols:
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000")).cast("timestamp_ntz")
            )
    return df


_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# path -> (stamp and confs, inferred schema); see the module docstring
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(path: str) -> tuple:
    """(path, mtime_ns, size, inode) of `path` and of every file under it;
    raises OSError when `path` is not on the local file system."""
    files = [path]
    for d, _, names in os.walk(path):  # a file walks nothing
        files += (os.path.join(d, n) for n in names)
    return tuple(sorted((f, st.st_mtime_ns, st.st_size, st.st_ino)
                        for f in files for st in (os.stat(f),)))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        stamp = _stamp(path)
    except OSError:  # not a local path: a URI or a glob
        return spark.read.parquet(path)
    key = (stamp, tuple(spark.conf.get(c) for c in _INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[path] = (key, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with type normalization (ns→NTZ where needed)."""
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return _nanos_to_ntz(df, _NANO_TS_COLS.get(name, ()))


def read_csv(spark: SparkSession, path: str, schema: StructType | str | None = None, **options) -> DataFrame:
    reader = spark.read.options(header="true", **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_table_dir(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> dict[str, DataFrame]:
    """Load the driver's testdata layout: one parquet per table under sf_dir."""
    out = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = load_table(spark, sf_dir, t)
    return out
