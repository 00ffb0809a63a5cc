"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Normalizes the fixtures' physical timestamp quirks so every operator sees one
timestamp semantic: TimestampType UTC instants (the session timezone is pinned
to UTC in session.RUNTIME_CONFS).

- timestamp[us] parquet columns carry no timezone (isAdjustedToUTC=false), so
  Spark surfaces them as TIMESTAMP_NTZ; we cast to TimestampType, which under
  the UTC session reinterprets the same wall-clock as a UTC instant — exactly
  how DuckDB's epoch_us() treats its naive TIMESTAMP, so oracles agree.
- timestamp[ns] columns (earlier fixture generations) are only readable via
  the nanosAsLong escape hatch; we convert the long back to TimestampType
  with microsecond truncation (matching DuckDB's ns->us conversion).

load_table() applies the needed session confs defensively because the
correctness driver hands us a session we didn't build.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caches import persist
from .session import apply_runtime_confs

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

# columns stored as timestamp[ns] -> read as long (nanos since epoch)
_NANOS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _NANOS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # Floor division in exact long arithmetic (`div` truncates toward
            # zero, which would be off by 1µs for pre-1970 negative nanos;
            # float division would lose precision past 2^53). pmod keeps the
            # remainder non-negative, matching DuckDB's floor-based epoch_us.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000L)) div 1000L")
                ),
            )
    # NTZ -> UTC instant (no-op on the wall-clock under the UTC session; see
    # module docstring). Cast keeps the projection narrow and codegen-able.
    ntz_cols = [c for c, d in dtypes.items() if d == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (catalog-scan analog of
    the reference's Glue Crawler + Athena tier; SURVEY.md S4)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Per-session memo of scan split counts (see scan_splits). Keyed on the
# session's applicationId + fixture path + table + parallelism; holds
# ONE int of physical-layout metadata per table - never query results.
_SCAN_SPLITS_MEMO: dict[tuple[str, str, str, int], int] = {}


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Split count of a testdata table's scan, memoized per session.

    The persist gate below needs the input's scan parallelism, but
    computing it costs real driver time inside the gated query's timed
    window (measured r17: ~48 ms for .rdd.getNumPartitions() on an
    existing DataFrame, ~180 ms with a fresh load_table) - enough to
    show up as a fake "regression" on sub-second queries. The count is
    physical-layout metadata (file count x sizes x maxPartitionBytes),
    constant for a fixture within a session, NOT a query result or
    intermediate - memoizing it is a planning-cost optimization of the
    same kind as Spark's own session FileIndex cache.
    """
    key = (
        spark.sparkContext.applicationId,
        sf_dir.rstrip("/"),
        name,
        spark.sparkContext.defaultParallelism,
    )
    if key not in _SCAN_SPLITS_MEMO:
        _SCAN_SPLITS_MEMO[key] = load_table(
            spark, sf_dir, name
        ).rdd.getNumPartitions()
    return _SCAN_SPLITS_MEMO[key]


def persist_when_scaled(
    df: DataFrame, sf_dir: str, table: str, dup: int
) -> DataFrame:
    """Persist a multiply-consumed derived relation ONLY when its input
    is large enough that re-executing the duplicated subtree costs real
    wall-clock (guide §2.4/§5, scale-gated like widen_small_scan).

    Spark re-executes every reference to an unpersisted DataFrame, so a
    subtree consumed ``dup`` times runs ``dup`` times per action. At
    fixture scale that duplication is nearly FREE: the branches are
    single-split columnar scans that execute concurrently on
    otherwise-idle cores, while a persist serializes a materialization
    barrier and replaces codegen-over-parquet reads with
    InMemoryTableScan row iteration - measured as a consistent LOSS for
    12 such persists in the r16 A/Bs (+0.06-0.55 s each, reverted). At
    real corpus scale there is no idle capacity to hide the duplication
    - every re-execution is pure added wall-clock and I/O - so the
    persist wins.

    Gate: engage when ``dup x splits >= session parallelism``, i.e.
    when one concurrent execution of all duplicated branches would
    already saturate the cores, so re-execution can no longer ride idle
    capacity. ``splits`` is the split count of ``table``'s scan under
    ``sf_dir`` (scan_splits, memoized). A fixture parquet is ONE split,
    so at fixture scale the gate engages exactly when ``dup >=
    defaultParallelism`` - every ``dup >= 4`` site on a ``local[4]``
    session, every ``dup >= 8`` site at ``local[8]``.

    An engaged persist is registered with the running query's scope
    (caches.persist), so it lives until the next registered query
    starts or caches.release_all().
    SPARK_GRAFT_FORCE_SCALE_PERSIST=1 engages the gate unconditionally
    (used by the forced-gate oracle-parity run and the unit tests; the
    driver never sets it).
    """
    sess = df.sparkSession
    if os.environ.get("SPARK_GRAFT_FORCE_SCALE_PERSIST", "") != "1":
        splits = scan_splits(sess, sf_dir, table)
        if splits * max(dup, 1) < sess.sparkContext.defaultParallelism:
            return df
    return persist(df, StorageLevel.MEMORY_AND_DISK)


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Fan a small scan out to the session's parallelism before CPU-heavy
    per-row work (regex tokenization, shingling, n-gram building).

    A small parquet fixture is ONE split (single row group), so without
    this the whole map stage runs on one core while 31 idle - measured
    3.5s -> 1.3s for the Jaccard shingle base at sf0.1. At real scale the
    scan already has >= parallelism splits and this is a no-op, so the
    shuffle only exists in exactly the regime where it is free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Band count scales with the scan partitioning (~128 MB splits by
# spark.sql.files.maxPartitionBytes): ~2 bands per split keeps each
# band's sort at roughly half an input split regardless of data volume,
# so the plan that runs on one parquet file at sf0.1 is the same plan
# that runs on 100k files at 100 TB.
_MIN_BANDS = 8
_MAX_BANDS = 65536


def quantile_bands(df: DataFrame, key: str) -> DataFrame:
    """df plus `_band`: how many approx-percentile boundaries of `key`
    lie strictly below the row's key. Rows equal to a boundary all land
    in the same band, so bands strictly respect key order and (band,
    key, tiebreak) is a total order - the exact global-rank device
    without a single-partition sort (ntile_price_deciles, extras.py).

    The boundaries are one bounded 1-row job frozen by localCheckpoint:
    the banded rows feed two consumers (per-band ranking and band
    totals), and two physical evaluations of the merge-order-dependent
    Greenwald-Khanna sketch could band a row differently between them
    (r9 review). Correctness never depends on boundary QUALITY, only on
    both consumers seeing the SAME boundaries."""
    n_bands = max(_MIN_BANDS, min(_MAX_BANDS, 2 * len(df.inputFiles())))
    probs = [i / n_bands for i in range(1, n_bands)]
    bounds = df.agg(
        F.percentile_approx(key, probs, max(10_000, 4 * n_bands)).alias(
            "_bounds"
        )
    ).localCheckpoint()
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            "_band", F.size(F.filter("_bounds", lambda x: x < F.col(key)))
        )
        .drop("_bounds")
    )
