"""Table loaders over the driver-generated parquet fixtures.

All queries load inputs through :func:`load_table` so that:

* the events timestamp shim is applied exactly once, at load
  (SURVEY.md §7.5): whatever physical encoding the fixture uses (int64
  nanos, TIMESTAMP_NTZ micros, or plain TIMESTAMP), downstream operators
  always see a session-UTC TIMESTAMP ``ts`` column.
* column pruning / predicate pushdown stay available — every other table
  is returned as a plain parquet scan with the reused schema (below), so
  Catalyst pushes filters and projections into it; pushdown and pruning
  are unchanged.
* table metadata launches no Spark job: a single local fixture file's
  inferred schema is reused on later loads, and :func:`table_rows` reads
  whole-table row counts from the parquet footer.  Each load still builds
  a fresh relation.

At 100 TB the same function signature holds; only the path changes to a
partitioned directory layout (e.g. ``events/date=.../``), which activates
partition pruning on top of row-group pushdown.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkastreaming_spark.session import prepare, session_cores  # noqa: F401

TABLES = [
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

# DuckDB oracle-side CTE for the events view: normalize TIMESTAMP_NS to
# microseconds so both engines see identical timestamps (SURVEY.md §5.4).
EVENTS_ORACLE_CTE = (
    # `main.events` avoids DuckDB 1.0.0's circular-CTE error when the CTE
    # shadows the pre-registered view of the same name.
    "events AS (SELECT event_id, "
    "CAST(date_trunc('microsecond', ts) AS TIMESTAMP) AS ts, "
    "user_id, event_type, value, props FROM main.events)"
)


# ---------------------------------------------------------------------------
# Zero-job table metadata.  Inferring a parquet schema is a Spark job (about
# 0.1-0.2 s at small scale) and a whole-table count() is two more, yet both
# answers sit in a footer that does not change between calls.  So both are
# cached per single local file, keyed on the file's identity (inode, size,
# mtime) so a file rewritten at the same path is read afresh.  A directory,
# remote path or missing file keeps the plain inference path: at 100 TB that
# is one job per load, negligible next to the scan.  Only metadata is
# cached, never a DataFrame — two loads sharing one relation would share
# attribute ids (ambiguous self-joins) and freeze the file listing.  Plain
# dicts: a race between threads only infers a schema or reads a footer twice.
# ---------------------------------------------------------------------------

# SQL confs that change the schema Spark infers from the same parquet bytes.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}
_FOOTER_CACHE: dict[tuple, tuple[int, int]] = {}


def _table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _local_file(uri: str) -> tuple[str, tuple[int, int, int]] | None:
    """``(path, (st_ino, st_size, st_mtime_ns))`` of one local regular
    file; None for a directory, a remote URI or a missing path."""
    if uri.startswith("file://"):
        uri = uri[7:]
    elif "://" in uri:
        return None
    try:
        st = os.stat(uri)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return uri, (st.st_ino, st.st_size, st.st_mtime_ns)


def _footer(uri: str) -> tuple[int, int] | None:
    """``(row groups, rows)`` from one local parquet file's footer, read
    once per file identity; None if not a local file or unreadable."""
    f = _local_file(uri)
    if f is None:
        return None
    if f not in _FOOTER_CACHE:
        try:
            import pyarrow.parquet as pq

            md = pq.read_metadata(f[0])
        except Exception:  # noqa: BLE001 — unreadable footer: treat as unknown
            return None
        _FOOTER_CACHE[f] = (md.num_row_groups, md.num_rows)
    return _FOOTER_CACHE[f]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema of an earlier read of
    the same single local file (same bytes, same inference confs) given
    up front so no inference job runs."""
    f = _local_file(path)
    if f is None:
        return spark.read.parquet(path)
    key = (f, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; events gets a schema-adaptive ts shim.

    The fixture generator has shipped ``events.ts`` as both TIMESTAMP(NANOS)
    (read as int64 via nanosAsLong) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ) across rounds, so we
    dispatch on the actual scan schema instead of assuming one encoding.
    Either way downstream operators see a session-UTC TIMESTAMP column.
    """
    prepare(spark)
    df = _read_parquet(spark, _table_path(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # int64 nanoseconds: integer `div` keeps exact microseconds;
            # timestamp_micros is UTC-pinned.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            # tz-naive micros: session tz is pinned UTC, so this cast is a
            # pure type relabel (no wall-clock shift).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a whole fixture table: the parquet footer's row count
    for a single local file (no Spark job), else ``load_table(...).count()``."""
    footer = _footer(_table_path(sf_dir, name))
    if footer is not None:
        return footer[1]
    return load_table(spark, sf_dir, name).count()


# ---------------------------------------------------------------------------
# Input-skew repair (optimization guide §2.5): parquet cannot be split below
# row-group granularity, so a table written as one file with one row group is
# an UNSPLITTABLE input — Spark plans maxPartitionBytes-sized splits, but only
# the split containing the row-group midpoint carries rows; every byte of
# scan + all whole-stage compute fused above it runs in ONE task.  The r16
# profile showed exactly that for every sf fixture (one row group each), which
# serializes the expensive per-row work (decimal casts, explode+md5 lattices,
# XML parsing, edit distance) of the whole suite onto one core.
#
# ``spread`` is the guide's remedy ("repartition immediately after the read"),
# gated on the MEASURED layout so it is scale-adaptive, not a local[32] tune:
# it counts real row groups via the parquet footers (driver-side, cached, the
# same metadata Spark itself reads to plan the scan) and no-ops whenever the
# layout already yields at least ``cores // 4`` row-carrying tasks — at 100 TB
# any healthy table has thousands of row groups and the helper never fires.
# Non-local / non-parquet inputs are treated as healthy (no footer to read —
# assume the layout parallelizes rather than pay a blind shuffle).
# ---------------------------------------------------------------------------


def _parquet_row_groups(uri: str) -> int | None:
    """Row-group count of one local parquet file; None if unreadable."""
    footer = _footer(uri)
    return None if footer is None else footer[0]


def scan_width(df: DataFrame) -> int | None:
    """Number of tasks that will actually carry rows out of ``df``'s file
    scan = total parquet row groups across its input files.  ``None`` means
    "cannot tell cheaply" (no file scan, >256 files, remote storage)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — no file source below this plan
        return None
    if not files or len(files) > 256:
        return None  # many files = layout already parallelizes (or unknowable)
    total = 0
    for f in files:
        n = _parquet_row_groups(f)
        if n is None:
            return None
        total += n
    return total


def spread(
    df: DataFrame,
    key: Column | str | None = None,
    cores: int | None = None,
) -> DataFrame:
    """Repartition after a narrow scan when the input layout caps real scan
    parallelism far below the session's cores (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").

    No-op when the scan already fans out to >= cores // 4 row-carrying
    tasks, so on a healthy large layout (100 TB = thousands of row groups)
    this adds nothing.  When it fires, the shuffle moves only the columns
    the caller has already projected; pass a high-cardinality ``key`` to
    hash-partition (deterministic, no sort-before-repartition cost) —
    without one, round-robin is used.
    """
    if os.environ.get("SPARK_GRAFT_SPREAD", "1") == "0":
        return df  # kill switch: plans revert to the raw scan (A/B, debug)
    if cores is None:
        cores = session_cores()
    width = scan_width(df)
    if width is None or width >= max(2, cores // 4):
        return df
    if key is not None:
        k = F.col(key) if isinstance(key, str) else key
        return df.repartition(cores, k)
    return df.repartition(cores)
