"""Testdata catalog: load the driver-generated parquet tables.

The reference has no tables — its only input is a Kinesis stream of
opaque records (kinesumer.go:97-102). Our engine's batch surface reads
the driver's TPC-H-ish star schema (TESTDATA.md). This module is the
single place that maps table name → DataFrame and registers temp views
so both the DataFrame API and ``spark.sql`` see the same catalog.

At 100 TB these would be partitioned/bucketed external tables; reading
plain parquet directories keeps the same plan shape (columnar scan with
predicate pushdown + column pruning — verify via plans.inspect).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """See variant list below. Also pins session tz to UTC: the NTZ→
    timestamp cast reinterprets wall-clock in the SESSION zone, so a
    caller-built non-UTC session would silently shift every instant
    (and diverge from read_table's batch path) without this.

    NOTE the pin must HOLD THROUGH EXECUTION, not just plan build: the
    cast is lazy, so a caller that resets ``spark.sql.session.timeZone``
    between building the DataFrame and collecting it would still shift
    instants. Streaming paths re-pin at run time (engine.run); batch
    callers that mutate the session tz mid-flight are on their own —
    every registry query executes promptly under this pin, so the
    exposure is external callers only."""
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    return _normalize_event_ts(df)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events-shaped ``ts`` column to TimestampType (µs,
    UTC instants) regardless of the physical encoding the generator
    used. Observed generator variants across rounds:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
      (PARQUET_TYPE_ILLEGAL); with ``legacy.parquet.nanosAsLong`` it
      surfaces as a raw LongType of epoch-nanos → integer-divide to µs
      (epoch-nanos ~1e18 exceeds double's 53-bit mantissa, so a float
      divide would round the microsecond) — the same truncation
      DuckDB's epoch_us / strftime apply.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
      TIMESTAMP_NTZ → reinterpret the wall-clock as UTC (identity
      under the session-tz=UTC pin below), matching DuckDB's naive
      TIMESTAMP read of the same column.
    - already TimestampType: pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_state(path: str) -> tuple:
    """Cheap content fingerprint (names+sizes+mtimes) so the schema cache
    invalidates when files at the path are replaced/regenerated —
    reusing a pre-drift schema would reintroduce the exact silent
    misread the adaptive path exists to prevent. st_mtime_ns is part of
    the key because a regenerated file can land byte-identical in size
    while carrying a different physical schema."""
    if os.path.isdir(path):
        return tuple(
            sorted(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in os.scandir(path)
                if e.is_file()
            )
        )
    st = os.stat(path)
    return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)


def parquet_file_schema(spark: SparkSession, path: str):
    """Footer-only physical schema of a parquet file/dir as Spark sees it
    (readStream does no inference, so stream sources pass this in).
    Cached per (path, file-state): saves the ~100 ms probe per stream
    (re)start while still picking up regenerated data."""
    key = (path, _path_state(path))
    if key not in _SCHEMA_CACHE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def events_raw_schema(spark: SparkSession, sf_dir: str):
    """Physical schema of the events table for file-stream sources."""
    return parquet_file_schema(spark, table_path(sf_dir, "events"))


_SPLITS_CACHE: dict[tuple, int] = {}

# Spark's default spark.sql.files.maxPartitionBytes. Used only to BOUND
# the scan-task estimate below; precision is irrelevant to the gate's
# purpose (distinguish "tiny local fixture" from "real multi-split layout"),
# so reading the live conf is not worth coupling this to a session.
_MAX_PARTITION_BYTES = 128 * 1024 * 1024

# Bound returned when the layout cannot be probed (non-local path, races).
# Large enough to exceed any cluster's parallelism, so fan_out becomes the
# identity — the correct decision on every real multi-split layout.
_FAIL_OPEN_BOUND = 1 << 30

# table paths whose probe failed: they fail open for the life of the
# process instead of re-probing an object-store URI on every call
_UNPROBEABLE: set[str] = set()


def scan_task_bound(sf_dir: str, name: str) -> int:
    """Upper bound on the scan tasks Spark can extract from a table's
    CURRENT file layout.

    Parquet row groups are atomic to Spark's reader (a row group goes to
    the split containing its midpoint), so a file contributes at most
    ``min(num_row_groups, ceil(size / maxPartitionBytes))`` non-empty
    scan tasks. The testdata tables are each ONE file with ONE row
    group → bound 1: every scan's map stage is single-threaded no matter
    what split-size confs say. At production scale (thousands of files /
    row groups) the bound exceeds any cluster's parallelism and the
    fan-out gate below turns itself off. Cached per file-state (same
    invalidation rule as the schema cache).

    The probe uses the local filesystem; a path it cannot stat/list (an
    object-store URI like ``s3a://...``, or a file replaced mid-probe)
    FAILS OPEN: it returns a bound larger than any parallelism, making
    :func:`fan_out` the identity, rather than raising out of the gate and
    taking the query down. On such layouts the identity is also the right
    answer — object-store tables at scale have plenty of natural splits.
    The fail-open result is memoized per path, so such a path is probed
    once per process."""
    path = table_path(sf_dir, name)
    if path in _UNPROBEABLE:
        return _FAIL_OPEN_BOUND
    try:
        key = (path, _path_state(path))
        if key not in _SPLITS_CACHE:
            import pyarrow.parquet as pq

            files = (
                [path]
                if os.path.isfile(path)
                else [
                    os.path.join(path, e.name)
                    for e in os.scandir(path)
                    if e.is_file() and not e.name.startswith(("_", "."))
                ]
            )
            total = 0
            for f in files:
                try:
                    rgs = pq.ParquetFile(f).metadata.num_row_groups
                except Exception:  # noqa: BLE001 — non-parquet sidecar etc.
                    rgs = 1
                by_size = -(-os.path.getsize(f) // _MAX_PARTITION_BYTES) or 1
                total += max(1, min(rgs, by_size))
            _SPLITS_CACHE[key] = max(1, total)
        return _SPLITS_CACHE[key]
    except OSError:
        _UNPROBEABLE.add(path)
        return _FAIL_OPEN_BOUND


def fan_out(df: DataFrame, sf_dir: str, *names: str) -> DataFrame:
    """Scale-adaptive fan-out for CPU-heavy map chains above a scan.

    The local fixtures are single-file/single-row-group parquet, so a
    scan's map stage runs in ONE task and any expensive per-row chain
    (sha256 shingling, per-word hashing, unrolled dot products) is
    single-threaded until the first exchange — measured 2-10x of several
    operators' wall time at sf0.1 (OPTIMIZATION_r17.md). At 100 TB the
    same chain has thousands of natural scan splits and a repartition
    would shuffle the whole corpus to gain nothing — the documented
    reason dedup_cdc_chunking REJECTED an unconditional repartition
    (SCALE.md r11).

    This helper reconciles the two: round-robin repartition to the
    session's ``defaultParallelism`` ONLY when the source tables'
    combined file layout cannot feed that many scan tasks
    (:func:`scan_task_bound`). The gate reads the layout, not an env
    constant, so the driver's lower-core bench run and a real cluster
    both get the right decision automatically. Callers apply it AFTER
    scan-side filters/projections (pushdown/pruning stay at the scan;
    the exchange carries only the surviving, projected rows).

    Determinism: round-robin repartition sorts before partitioning
    (spark.sql.execution.sortBeforeRepartition, default on), and every
    consumer below a fan-out is order-independent (decimal sums, min
    aggregates, counts, windows with total orders) — oracle-checked.
    ``SPARK_GRAFT_FANOUT=0`` disables the helper (A/B harness hook).
    """
    if os.environ.get("SPARK_GRAFT_FANOUT", "auto").lower() in ("0", "off"):
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    bound = sum(scan_task_bound(sf_dir, n) for n in names)
    if bound >= cores:
        return df
    return df.repartition(cores)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing engine-specific physical types
    (see normalize_event_ts for the ``events.ts`` variants)."""
    # queries may run under a caller-built SparkSession (the external
    # driver's); timestamp formatting/extraction is session-tz dependent,
    # so pin UTC here — the single choke point every query reads through
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every testdata table; optionally register same-named temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
