"""Batch scans (S6/S7): parquet table loads with pruning-friendly plans.

S6 mirrors the reference's Discover index-pattern scan
(reference README.md:301-312): a daily index selection becomes Parquet
partition pruning on ``log_date``. S7 is the driver-testdata contract.

Scale note: ``spark.read.parquet`` + declarative select/filter is all
that's needed — Catalyst pushes predicates and prunes columns down to
the scan, which is exactly the shard-local filtering OpenSearch does.

Metadata cache (``cached`` / ``file_stamp``): driver-side metadata that
every query would otherwise re-derive — a table's inferred parquet
schema here, an ANN index's frozen artifacts and base-table read in
``operators/ann_index.py`` — is memoized once per process.

- Key: (Spark application id, caller key naming the path). A new
  SparkSession application never sees an entry of an earlier one.
- Stamp: a value read from the file system before every lookup; a hit
  requires the stored stamp to equal it, and a miss replaces the
  entry, so there is one entry per live key. ``load_table`` stamps the
  table file's (size, mtime_ns, inode); the index artifacts stamp the
  index manifest, which every build, append, compact and merge
  rewrites.
- Invalidation: rewriting, replacing or deleting the stamped file
  changes or removes its stamp, so the next lookup reloads. A missing
  file has no stamp and is never cached. For a directory the stamp is
  the directory's own, which changes when entries are added or
  removed, not when a file inside is rewritten in place.
- Values: ``load_table`` caches only the schema and still returns a
  fresh ``spark.read.schema(s).parquet(path)`` DataFrame per call, so
  two loads of one table join as distinct relations.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (application id, key) -> (stamp, value); see the module docstring.
_CACHE: dict[tuple[str, Hashable], tuple[Hashable, Any]] = {}


def file_stamp(path: str) -> tuple[int, int, int] | None:
    """(size, mtime_ns, inode) of ``path``, or None when it does not
    exist."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def cached(spark: SparkSession, key: Hashable, stamp: Hashable | None, load: Callable[[], Any]) -> Any:
    """``load()``, memoized per (Spark application, ``key``) while
    ``stamp`` is unchanged; a None stamp bypasses the cache. Callers
    must not mutate the returned value. Two threads that miss together
    both load; either result may stay cached, as both are equivalent."""
    if stamp is None:
        return load()
    slot = (spark.sparkContext.applicationId, key)
    hit = _CACHE.get(slot)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = load()
    _CACHE[slot] = (stamp, value)
    return value


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one driver-testdata table as a DataFrame.

    The events table stores TIMESTAMP(NANOS) parquet, which Spark 4
    refuses to read natively; it is read via nanosAsLong and converted
    to TimestampType with exact integer division (``div`` — plain ``/``
    would round-trip through double and lose precision above 2^53 ns).

    The inferred schema is cached per file (module docstring), so only
    the first load of a table file runs parquet schema inference.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The DuckDB oracle is timezone-naive; pin the session to UTC so
    # date_trunc/day bucketing agrees regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    schema = cached(spark, ("schema", path), file_stamp(path), lambda: spark.read.parquet(path).schema)
    df = spark.read.schema(schema).parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load every testdata table, keyed by name."""
    return {name: load_table(spark, name, sf_dir) for name in names}


def register_testdata_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all testdata tables as temp views so spark.sql works
    against the same names DuckDB pre-registers (driver contract)."""
    for name in TESTDATA_TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_ranges: int = 8,
    partition_by: list[str] | None = None,
) -> None:
    """Data-layout management: write a table range-partitioned and
    sorted on ``sort_col`` so parquet row-group/file min-max statistics
    become disjoint — a later scan with a ``sort_col`` predicate skips
    whole files instead of reading the full table.

    ``repartitionByRange`` samples the column to build balanced range
    boundaries (one shuffle), ``sortWithinPartitions`` orders rows
    inside each output file (no extra shuffle). At 100 TB this is the
    difference between a time-range query touching ~1/N of the files
    and touching all of them; the same layout is what makes
    z-order/liquid-clustering effective in lakehouse engines. Combine
    with ``partition_by`` (e.g. log_date) for directory-level pruning
    on a second key.
    """
    out = df.repartitionByRange(n_ranges, sort_col).sortWithinPartitions(sort_col)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def morton_z(n0: "F.Column", n1: "F.Column", bits_per_col: int) -> "F.Column":
    """Morton (Z-order) bit interleave of two non-negative integer
    columns as a pure JVM codegen expression: bit b of ``n0`` lands at
    position 2b, of ``n1`` at 2b+1, so nearby (n0, n1) pairs get
    nearby z-values. Shared kernel of ``write_zordered`` (data
    layout) and the geotile-grid aggregation (catalog_logs
    ``logs_geo_grid``) — the same integer arithmetic a geohash
    interleaves over lon/lat cell ordinates."""
    z = F.lit(0).cast("long")
    for b in range(bits_per_col):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(n0, b).bitwiseAND(F.lit(1)), 2 * b))
            .bitwiseOR(F.shiftleft(F.shiftright(n1, b).bitwiseAND(F.lit(1)), 2 * b + 1))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_col: int = 16,
    partition_by: list[str] | None = None,
) -> None:
    """Data-layout management, two-dimensional: write the table
    clustered on the Morton (Z-order) interleaving of two numeric
    columns, so file-level min/max statistics prune scans filtered on
    EITHER column — the property single-column range sorting cannot
    give (a sort on A leaves every file spanning B's full domain).
    This is the layout behind lakehouse OPTIMIZE ZORDER, built from
    Spark primitives: normalize, interleave bits, range-partition.

    Mechanics (all JVM-side codegen expressions):
    1. each column min-max normalizes to a ``bits_per_col``-bit
       integer (the 1-row min/max agg is crossJoin-broadcast — the
       same scalar pattern the BM25 entries whitelist). Min-max
       scaling assumes roughly uniform values; heavily skewed
       columns should pre-transform (e.g. rank or log), the same
       caveat lakehouse z-ordering carries;
    2. bits interleave into one z-value: bit b of col0 lands at
       position 2b, col1 at 2b+1 — nearby (A, B) pairs get nearby
       z-values, so the space-filling curve preserves locality in
       both dimensions;
    3. ``repartitionByRange(n_files, z)`` + ``sortWithinPartitions``
       give each output file a tight z-range, hence tight min/max on
       BOTH source columns.

    tests/test_plans.py certifies the pruning effect from the parquet
    footers: under z-order a narrow predicate on either dimension
    overlaps a bounded fraction of files; under single-column range
    sort the unsorted dimension overlaps all of them.
    """
    if len(cols) != 2:
        raise ValueError("write_zordered interleaves exactly 2 columns")
    mins = [F.min(c).alias(f"_mn{i}") for i, c in enumerate(cols)]
    maxs = [F.max(c).alias(f"_mx{i}") for i, c in enumerate(cols)]
    stats = df.agg(*mins, *maxs)
    scale = (1 << bits_per_col) - 1
    with_stats = df.crossJoin(F.broadcast(stats))

    def norm(i: int, c: str) -> F.Column:
        lo = F.col(f"_mn{i}").cast("double")
        hi = F.col(f"_mx{i}").cast("double")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        return F.floor(
            ((F.col(c).cast("double") - lo) / span) * F.lit(float(scale))
        ).cast("long")

    z = morton_z(norm(0, cols[0]), norm(1, cols[1]), bits_per_col)
    out = (
        with_stats.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_mn0", "_mn1", "_mx0", "_mx1")
    )
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
