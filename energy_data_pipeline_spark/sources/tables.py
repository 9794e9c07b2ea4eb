"""Parquet table loaders for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

At 100 TB these would be partitioned/bucketed managed tables; the loaders
keep the access path declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.

Each table's inferred schema is memoized: without a schema, every
``spark.read.parquet`` runs a one-task Spark job to read footers, and one
dashboard pass reads the same ``events.parquet`` eight times. The memo
key is the absolute path plus the file's ``st_mtime_ns`` and ``st_size``
(every file's, for a directory) plus the session confs that change what
inference returns, so a rewritten file or a conf flip infers again. It is
keyed by path, not inode: a new snapshot path (a hard-linked copy
included) pays one inference, as a real new snapshot would.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLE_NAMES = (
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


# columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos
# timestamp, so they are read as long (nanosAsLong) and rebuilt as
# TIMESTAMP_NTZ by pure arithmetic (timezone-independent).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# session confs whose value changes the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# LRU-bounded: a long-lived service sees a new snapshot path per refresh
_MAX_SCHEMAS = 256
_SCHEMAS: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def _file_token(path: str) -> tuple:
    """(mtime_ns, size) of a file; of every file under a directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            st = os.stat(f)
            files.append((os.path.relpath(f, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with nanosAsLong on and the inferred
    schema memoized (module docstring); a missing path reads uncached so
    Spark raises its own error."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        token = _file_token(path)
    except OSError:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        token,
        *(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
        while len(_SCHEMAS) > _MAX_SCHEMAS:
            _SCHEMAS.popitem(last=False)
    return df


def _nanos_to_ntz(col: str):
    micros = (F.col(col) / F.lit(1000)).cast("long")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_add("MICROSECOND", micros, epoch)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, _nanos_to_ntz(col))
    return df


def load_events_window(
    spark: SparkSession,
    sf_dir: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """events scan with the time predicate applied in the RAW nanos
    domain, BEFORE the long→TIMESTAMP_NTZ rebuild.

    Filtering the rebuilt column cannot push past the arithmetic
    (Catalyst won't invert it), so the scan would read every row group.
    Translating the bounds to int64 nanos pushes a plain range predicate
    into the parquet scan — at 100 TB this is the difference between
    pruning to the touched row groups and a full-table read.
    ``start``/``end`` are 'YYYY-MM-DD[ HH:MM:SS]' wall-clock strings,
    half-open [start, end).
    """
    import datetime as _dt

    def _nanos(s: str) -> int:
        fmt = "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d"
        d = _dt.datetime.strptime(s, fmt)
        return int((d - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000_000

    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        if start is not None:
            df = df.filter(F.col("ts") >= F.lit(_nanos(start)))
        if end is not None:
            df = df.filter(F.col("ts") < F.lit(_nanos(end)))
        return df.withColumn("ts", _nanos_to_ntz("ts"))
    # driver stored a real timestamp column: filter on it directly
    if start is not None:
        df = df.filter(F.col("ts") >= F.lit(start).cast("timestamp_ntz"))
    if end is not None:
        df = df.filter(F.col("ts") < F.lit(end).cast("timestamp_ntz"))
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IF the scan is under-parallel.

    Small single-file inputs (like the local test parquet) arrive as one
    split, which serializes CPU-heavy per-row stages (hashing, shingling,
    vector math) onto one core. At production scale the scan already
    yields >= cores splits and this is a no-op — the partition-count
    check makes the shuffle conditional, so wide tables never pay it.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly
    (mirrors the reference's Grafana→Postgres surface, SURVEY.md §3.3)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
