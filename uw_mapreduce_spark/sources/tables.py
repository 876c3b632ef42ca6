"""Parquet table loaders for the driver's TPC-H-ish star schema.

The reference reads only tab-text (`SlidingAggregation.java:446`); a real
engine is Parquet-first — columnar scans, predicate pushdown, column
pruning, partition pruning all come free from the Parquet source.

One driver-data quirk handled here: ``events.parquet`` stores ``ts`` as
parquet TIMESTAMP(NANOS), which Spark's reader rejects.  With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) the
column arrives as int64 nanoseconds; we convert to a proper timestamp by
truncating to microseconds — identical to what DuckDB does when reading
the same file (its TIMESTAMP is µs), so oracle comparisons agree.

Schema memo.  ``spark.read.parquet`` without a schema launches a
one-task Spark job to read a Parquet footer; with a schema it launches
none.  ``read_parquet`` remembers Spark's own inferred schema per path,
keyed by the identity of every file under the path (relative name, size,
``st_mtime_ns``) and by the session's Parquet inference confs
(``_INFERENCE_CONFS``).  A later read of an unchanged table passes the
remembered schema; a rewritten file or a changed conf misses and infers
again.  The memo holds one entry per path, at most ``_MEMO_PATHS``
paths, and drops the least recently used first.  A path ``os.stat``
cannot see (a non-local URI, a glob, a missing file) is read with
inference as before, so its errors are Spark's own.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

TABLE_NAMES = [
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
]


# Session confs that change the schema Spark infers from the same files.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    # With it off Spark reads one footer, with it on all of them: a
    # directory whose files differ infers two schemas.
    "spark.sql.parquet.mergeSchema",
)
_MEMO_PATHS = 256
_SCHEMAS: OrderedDict[str, tuple[tuple, StructType]] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def _files_identity(path: str) -> tuple:
    """(relative name, size, mtime ns) of every file under ``path``;
    raises ``OSError`` when ``path`` is not a local file or directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            f = os.stat(full)
            files.append((os.path.relpath(full, path), f.st_size, f.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the inferred schema memoized
    (see the module docstring): an unchanged table launches no job."""
    try:
        key = (_files_identity(path), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    except OSError:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        key_schema = _SCHEMAS.get(path)
        if key_schema is not None and key_schema[0] == key:
            _SCHEMAS.move_to_end(path)
        else:
            key_schema = None
    if key_schema is not None:
        return spark.read.schema(key_schema[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[path] = (key, df.schema)
        _SCHEMAS.move_to_end(path)
        if len(_SCHEMAS) > _MEMO_PATHS:
            _SCHEMAS.popitem(last=False)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Give the events ``ts`` column TimestampType, batch or stream."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # int64 ns -> µs -> TimestampType.  Integer DIV, not `/`: epoch-ns
        # (~1.7e18) exceeds double's 2^53 integer range, so float division
        # would be off by ±1 µs.  Truncating DIV matches DuckDB's ns->µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        # Newer driver data writes naive µs timestamps.  Normalize to
        # TimestampType (session zone is pinned to UTC, so the cast is
        # wall-clock-identical) so every downstream consumer — event-time
        # watermarks require TimestampType — sees one ts type.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; normalizes the events ns-timestamp."""
    apply_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so ``spark.sql`` queries run."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)
