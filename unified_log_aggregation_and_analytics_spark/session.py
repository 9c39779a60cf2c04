"""SparkSession factory with scale-appropriate defaults.

Local-mode testing uses local[N]; the same config block is what we'd
ship to a 1000-executor cluster minus the master/memory lines — AQE,
Arrow, and partition sizing are the scale-critical pieces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "unified-log-analytics",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for correctness-at-scale:
    - AQE on: runtime partition coalescing + skew-join splitting means
      ``spark.sql.shuffle.partitions`` is a ceiling, not a guess.
    - Arrow on: any pandas_udf path transfers columnar batches.
    - UTC session timezone: log timestamps are event-time; a cluster
      must not depend on host-local time.
    """
    n_cpu = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(n_cpu))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else n_cpu
    # Shuffle/broadcast spill files must NOT live in /tmp here: an
    # external tmp cleaner races Spark's block manager (observed
    # vanishing part-files + "Error deleting temp_shuffle" + 5-10x
    # query-time variance). Honors SPARK_LOCAL_DIRS when set.
    local_dir = os.environ.get(
        "SPARK_LOCAL_DIRS",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spark-local"),
    )
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 (guide §3.1): let AQE rewrite sort-merge to shuffled-hash
        # at runtime when EVERY post-shuffle map partition is under the
        # threshold (default 0 = never). Scale-safe by construction —
        # the decision is per-query from runtime sizes, so a 100 TB
        # join whose partitions exceed the threshold keeps sort-merge;
        # 128 MB build sides fit comfortably per task both locally and
        # on production executors (override via env for smaller ones).
        # Measured on the 10x join suite (q2/q7/q9/q13/q17/q18/q21/
        # q11): ~7-18% total, no entry consistently worse.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_MAP_THRESHOLD", str(128 * 1024 * 1024)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, not the full 128: full-GC pause time scales with heap
        # size, and an oversized heap measurably hurt this workload
        # (sporadic multi-second pauses landing on allocation-heavy
        # queries; bench total 15s @ 48g -> 10s @ 12g). Override with
        # SPARK_DRIVER_MEMORY when a job genuinely needs more.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Engine-level DEFAULT, not a query-time mutation: pure
        # per-term FILTERS on the bucketed token/ANN index tables
        # must keep the bucketed layout so hash(term) bucket pruning
        # applies (the planner auto-ignores bucketing for plain
        # scans). A set-then-restore around an indexed read cannot
        # work — the rule is consulted when the LAZY plan executes,
        # after any restore — so the flag is pinned here at session
        # build; operators/relational.py's _keep_bucketed_layout is
        # then an idempotent safety net for foreign sessions, and no
        # indexed-search call changes session state the user set.
        # Cost: plain full scans of bucketed tables lose the option
        # of extra split parallelism — the index tables are this
        # engine's only bucketed tables and are always read through
        # pruned filters or bucket-colocated joins.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
