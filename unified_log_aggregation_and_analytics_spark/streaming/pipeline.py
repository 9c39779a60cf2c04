"""The ingestion pipeline: per-source stream -> transform -> unified
partitioned table + dead-letter split (SURVEY.md §2.2, §2.6).

Reference semantics re-expressed (citations into /root/reference):
- ST1 60 s / 1 MB buffering (lib/common/utils.ts:69-72) ->
  ``trigger(processingTime='60 seconds')`` + source rate options;
  tests use ``availableNow`` for determinism.
- K1/K2 index sink with daily rotation (utils.ts:65-67, README.md:30)
  -> Parquet partitioned by (source, log_date). Rotation becomes
  partition pruning; an OpenSearch index pattern scan 'ec2-*' is
  ``WHERE source='ec2'`` + date predicates.
- K3 dead-letter-queue, FailedDocumentsOnly (utils.ts:68,73-81) ->
  foreachBatch validation split: bad rows (+_error column) land in
  ``_rejected/`` Parquet instead of poisoning the batch — a documented
  improvement over the reference transformer, which would throw.
- K4 retry (utils.ts:57-59) -> checkpointed micro-batch replay; the
  manifest-fenced commit (streaming/fence.py, shared with the
  corpus/media/vector sinks) upgrades at-least-once to exactly-once
  as observed by fenced readers (read_log_table).
- K5 pipeline metrics (utils.ts:60-64) -> StreamingQueryListener.
- ST2 watermark: the sink partitions by EVENT date (vs the reference's
  arrival-date rotation) — late data lands in its true partition.

Scale notes: the foreachBatch body is two DataFrame writes — no
collect, no Python row loops. Partitioning (source, log_date) keeps
file counts bounded: sources x days, each micro-batch appending one
file per task per partition. At 1000 executors, set
``spark.sql.shuffle.partitions`` and compaction cadence accordingly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.functions.apache_log import (
    combined_fields,
    combined_groups,
    error_fields,
    error_groups,
    parse_apache_combined,
)
from unified_log_aggregation_and_analytics_spark.operators.transforms import (
    lambda_telemetry_transform,
)
from unified_log_aggregation_and_analytics_spark.streaming import fence

UNIFIED_COLUMNS = ("source", "log_date", "ts", "level", "message", "attrs", "_raw")


def _finish(df: DataFrame, source: str, ts: F.Column, level: F.Column, message: F.Column, attrs: F.Column, raw: F.Column) -> DataFrame:
    return df.select(
        F.lit(source).alias("source"),
        F.to_date(ts).alias("log_date"),
        ts.alias("ts"),
        level.alias("level"),
        message.alias("message"),
        attrs.alias("attrs"),
        raw.alias("_raw"),
    )


def normalize_ec2(df: DataFrame) -> DataFrame:
    """Apache log lines (S1) -> unified rows. The reference's agent
    tails BOTH access_log* and error_log* into one delivery stream
    (ec2-startup.sh:46-49), so one batch mixes both formats; lines are
    routed by their leading character (error lines start with '[',
    access lines with the client ip). Each branch applies its regex
    only to its own rows.

    Access level derives from HTTP status (5xx error / 4xx warn / else
    info); error-log level maps the httpd severity onto the unified
    scale (emerg..error -> error, warn -> warn, rest -> info) and
    keeps the original in attrs.err_level.

    ONE pass, one scan: the two extraction bundles embed in CASE
    expressions keyed on the leading character, so the source is never
    read twice (a union of two filtered branches would double
    numInputRows and, at 100 TB, ingest cost). Each bundle's one-match
    groups are staged behind its own route, so every line runs exactly
    one full-line regex: its own format's."""
    line = F.col("value")
    is_err = line.startswith("[")
    staged = df.withColumns(
        {
            "_acc_groups": F.when(~is_err, combined_groups(line)),
            "_err_groups": F.when(is_err, error_groups(line)),
        }
    )
    acc = combined_fields(line, F.col("_acc_groups"))
    err = error_fields(line, F.col("_err_groups"))

    acc_level = (
        F.when(acc["status"] >= 500, "error")
        .when(acc["status"] >= 400, "warn")
        .when(acc["status"].isNotNull(), "info")
    )
    err_level = (
        F.when(err["level"].isin("emerg", "alert", "crit", "error"), "error")
        .when(err["level"] == "warn", "warn")
        .when(err["level"].isNotNull(), "info")
    )
    acc_attrs = F.create_map(
        F.lit("client_ip"), acc["client_ip"],
        F.lit("method"), acc["method"],
        F.lit("path"), acc["path"],
        F.lit("status"), acc["status"].cast("string"),
        F.lit("bytes"), acc["bytes"].cast("string"),
        F.lit("user_agent"), acc["user_agent"],
    )
    err_attrs = F.create_map(
        F.lit("client_ip"), err["client_ip"],
        F.lit("module"), err["module"],
        F.lit("pid"), err["pid"].cast("string"),
        F.lit("err_level"), err["level"],
    )
    ts = F.when(is_err, err["ts"]).otherwise(acc["ts"])
    level = F.when(is_err, err_level).otherwise(acc_level)
    message = F.when(is_err, err["message"]).otherwise(line)
    attrs = F.map_filter(
        F.when(is_err, err_attrs).otherwise(acc_attrs), lambda _, v: v.isNotNull()
    )
    return _finish(staged, "ec2", ts, level, message, attrs, line)


def normalize_ecs(df: DataFrame) -> DataFrame:
    """FireLens JSON (S2) -> unified rows. No transformer is attached
    in the reference (ecs.ts:14) — metadata passes through as attrs."""
    attrs = F.create_map(
        F.lit("container_id"), F.col("container_id"),
        F.lit("container_name"), F.col("container_name"),
        F.lit("ecs_cluster"), F.col("ecs_cluster"),
        F.lit("ecs_task_arn"), F.col("ecs_task_arn"),
        F.lit("stream"), F.col("source"),
    )
    p = parse_apache_combined(df.withColumnRenamed("log", "value"), "value")
    level = F.when(F.col("status") >= 500, "error").when(
        F.col("status") >= 400, "warn"
    ).when(F.col("status").isNotNull(), "info")
    return _finish(p, "ecs", F.col("ts"), level, F.col("_raw"), attrs, F.col("_raw"))


def normalize_eks(df: DataFrame) -> DataFrame:
    """Fluent Bit pod logs (S3) -> unified rows; kubernetes metadata
    flattens into attrs."""
    ts = F.try_to_timestamp(F.col("time"))
    attrs = F.create_map(
        F.lit("namespace"), F.col("kubernetes.namespace_name"),
        F.lit("pod"), F.col("kubernetes.pod_name"),
        F.lit("container"), F.col("kubernetes.container_name"),
        F.lit("host"), F.col("kubernetes.host"),
        F.lit("stream"), F.col("stream"),
    )
    level = F.when(F.col("stream") == "stderr", "error").otherwise("info")
    return _finish(df, "eks", ts, level, F.col("log"), attrs, F.col("log"))


def normalize_lambda(df: DataFrame) -> DataFrame:
    """Telemetry batches (S4) -> unified rows via T4-T6/T10: parse the
    event array, keep function events, split the tab record. Input is
    one JSON-array payload per row (``value`` from a text source or a
    pre-decoded ``payload`` column)."""
    if "payload" not in df.columns:
        df = df.withColumnRenamed("value", "payload")
    t = lambda_telemetry_transform(df)
    attrs = F.map_filter(
        F.create_map(
            F.lit("request_id"), F.col("request_id"),
            F.lit("event_time"), F.col("event_time"),
        ),
        lambda _, v: v.isNotNull(),
    )
    ts = F.coalesce(F.col("log_ts"), F.try_to_timestamp(F.col("event_time")))
    # console.log records end with a newline (reference README.md:119);
    # the unified message column is search-friendly, _raw keeps bytes
    message = F.regexp_replace(F.col("log_message"), r"\s+$", "")
    return _finish(t, "lambda", ts, F.lower("level"), message, attrs, F.col("record"))


NORMALIZERS = {
    "ec2": normalize_ec2,
    "ecs": normalize_ecs,
    "eks": normalize_eks,
    "lambda": normalize_lambda,
}


@dataclass
class PipelineResult:
    """What every ``run_*`` pipeline returns: the running query."""

    query: object  # StreamingQuery

    def await_done(self) -> None:
        self.query.awaitTermination()


def start_sink(
    stream: DataFrame, handle, checkpoint: str, trigger: dict | None = None
) -> PipelineResult:
    """Start ``stream`` through ``foreachBatch(handle)``, checkpointed
    at ``checkpoint``. ``trigger`` defaults to the reference's 60 s
    buffering hint (utils.ts:69-72); tests pass availableNow=True."""
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"processingTime": "60 seconds"}))
        .start()
    )
    return PipelineResult(q)


def _log_fence_root(table_path: str, source: str | None) -> str:
    """Marker namespace for one pipeline writer. Per SOURCE: the four
    pipelines have independent checkpoints, so their batch-id spaces
    collide — each source's markers (and DLQ subtree) must be its
    own. Lives OUTSIDE the table root so partition discovery never
    sees the marker directory."""
    return f"{table_path}_commits/{source or '_all'}"


def dlq_split(
    batch_df: DataFrame,
    table_path: str,
    rejected_path: str,
    source: str | None = None,
    batch_id: int | None = None,
) -> None:
    """K3 — validation split for one micro-batch: rows with a parseable
    event time go to the table (partitioned by source/log_date), rows
    without go to the dead-letter path with an ``_error`` column.
    Mirrors s3BackupMode FailedDocumentsOnly (reference utils.ts:68).

    With ``source`` set (run_pipeline passes it), the write targets
    ``{table_path}/source={source}`` partitioned by log_date only:
    each source's writer OWNS its partition subtree, so four
    concurrently-triggering pipelines never share a Hadoop commit
    ``_temporary`` staging dir at the table root — the failure mode of
    concurrent appends to one path with the default committer, and
    the Spark equivalent of the reference's one-index-per-stream
    isolation (utils.ts:66). Partition discovery restores ``source``
    as a column when the unified root is read. The DLQ mirrors the
    same per-source subtree split (the reference's per-stream S3
    backup, utils.ts:73-81).

    Delivery is EXACTLY-ONCE as observed by fenced readers
    (streaming/fence.py, same contract as the corpus/media/vector
    sinks): both writes land under ``_commit_batch=<id>`` partitions
    with dynamic partition overwrite, one marker after both is the
    commit, so a batch killed between the table append and the DLQ
    append replays by REPLACING its own torn partitions, and a
    committed batch's replay is a no-op. Read the table through
    ``read_log_table`` to see committed rows only; a raw
    ``spark.read.parquet`` also sees torn partitions (at-least-once),
    which is the pre-fence behavior."""
    with fence.FencedBatch(
        batch_df.sparkSession, _log_fence_root(table_path, source), batch_id
    ) as fb:
        if fb.committed:
            return  # replay of a fully-committed batch: no-op
        # persist: the valid and rejected writes are two actions over the
        # same micro-batch — without it each one re-reads the source (2x
        # ingest cost and doubled numInputRows in progress metrics)
        fb.persist(batch_df)
        valid = batch_df.filter(F.col("ts").isNotNull())
        invalid = batch_df.filter(F.col("ts").isNull()).withColumn(
            "_error", F.lit("unparseable event time")
        )
        if source is not None:
            fb.append(
                valid.drop("source"), f"{table_path}/source={source}", "log_date"
            )
            fb.append(invalid.drop("source"), f"{rejected_path}/source={source}")
        else:
            fb.append(valid, table_path, "source", "log_date")
            fb.append(invalid, rejected_path)


def log_table_snapshot(spark, table_path: str) -> dict[str | None, int]:
    """The reproducibility pin for ``read_log_table(as_of_batch=)``:
    the max COMMITTED batch id per WRITER — one entry per
    ``source=`` subtree plus ``None`` for the unified single-writer
    layout when present. Record this at training-run start and pass
    the dict back on every re-read: each writer is bounded in its OWN
    id space, so a slow source committing an old batch id after the
    snapshot can never leak into the pinned read (the mixed-cadence
    hole a single global max id has). Writers that appear later are
    absent from the dict and therefore excluded — at snapshot time
    they had contributed nothing. O(writers) tiny marker listings."""
    snap: dict[str | None, int] = {}
    entries = fence.list_dir_names(spark, table_path)
    for d in entries:
        if d.startswith("source="):
            src = d.split("=", 1)[1]
            ids = fence.committed_batches(spark, _log_fence_root(table_path, src))
            if ids:
                snap[src] = ids[-1]
    if any(d.startswith(f"{fence.BATCH_COL}=") for d in entries):
        ids = fence.committed_batches(spark, _log_fence_root(table_path, None))
        if ids:
            snap[None] = ids[-1]
    return snap


def read_log_table(
    spark, table_path: str, as_of_batch: int | dict[str | None, int] | None = None
) -> DataFrame:
    """Committed rows of a fenced log table. Handles BOTH layouts
    dlq_split can write: the per-source layout run_pipeline uses
    (``table/source=X/_commit_batch=N/log_date=...`` with per-source
    marker roots) — one fenced read per ``source=`` subtree, each
    pruned by its own marker set, unioned with the source column
    restored — and the unified single-writer layout of a
    ``source=None`` call (``table/_commit_batch=N/source=X/...`` with
    markers under the ``_all`` namespace), which is one fenced read
    at the root. O(sources) tiny marker listings; data reads prune on
    the committed-batch partition filter; listing goes through the
    Hadoop FS API so the committed-read entry point works on whatever
    filesystem the sink wrote to. Raw ``spark.read.parquet`` remains
    available and differs only when a torn batch is sitting
    unreplayed on disk.

    ``as_of_batch`` gives a SNAPSHOT read (fence.fenced_read's
    time-travel contract): only batches with id <= the bound are
    visible. Batch ids are per WRITER, so the REPRODUCIBLE form is a
    dict from ``log_table_snapshot`` — each writer bounded in its own
    id space, writers absent from the dict excluded entirely (they
    had contributed nothing at snapshot time). A plain int applies
    one bound to every writer: exact for the single-writer unified
    layout, a trigger-aligned cut for per-source subtrees only when
    the sources share a cadence."""
    entries = fence.list_dir_names(spark, table_path)
    parts = []
    for d in entries:
        if not d.startswith("source="):
            continue
        src = d.split("=", 1)[1]
        if isinstance(as_of_batch, dict) and src not in as_of_batch:
            continue  # writer absent from the snapshot: contributed nothing
        bound = as_of_batch.get(src) if isinstance(as_of_batch, dict) else as_of_batch
        df = fence.fenced_read(
            spark,
            f"{table_path}/{d}",
            _log_fence_root(table_path, src),
            as_of_batch=bound,
        )
        if df is not None:
            parts.append(df.withColumn("source", F.lit(src)))
    root_batch_dirs = [d for d in entries if d.startswith(f"{fence.BATCH_COL}=")]
    if root_batch_dirs:
        # unified layout (source=None writer): source= lives BELOW the
        # batch partition and comes back via partition discovery.
        # Read UNCONDITIONALLY whenever a root-level batch dir exists:
        # a table can legitimately carry both layouts (per-source
        # subtrees plus a source=None unified write), and gating this
        # on the per-source reads being empty silently dropped the
        # unified rows. only_dirs pins the scan to the root batch
        # partitions so the per-source subtrees (whose partition
        # column order conflicts) are never listed into this read.
        unified_bound = (
            as_of_batch.get(None) if isinstance(as_of_batch, dict) else as_of_batch
        )
        unified_excluded = isinstance(as_of_batch, dict) and None not in as_of_batch
        df = (
            None
            if unified_excluded
            else fence.fenced_read(
                spark,
                table_path,
                _log_fence_root(table_path, None),
                only_dirs=root_batch_dirs,
                as_of_batch=unified_bound,
            )
        )
        if df is not None:
            parts.append(df)
    if not parts:
        raise FileNotFoundError(f"no fenced log data under {table_path}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*UNIFIED_COLUMNS)


def compact_log_table(
    spark, table_path: str, files_per_partition: int = 1
) -> None:
    """K1/K2 maintenance for the FENCED log table: fold each source
    subtree's committed batch partitions into one
    (``_commit_batch=<max committed>``, ``log_date``) layout with
    ``files_per_partition`` files per day — the batch-partition count
    then resets to 1, so retention (expire_partitions) and scans stay
    O(days), not O(triggers). Run compaction before bulk retention.
    Offline maintenance; see fence.compact_fenced for the swap
    contract."""
    for d in fence.list_dir_names(spark, table_path):
        if d.startswith("source="):
            fence.compact_paths(
                spark,
                _log_fence_root(table_path, d.split("=", 1)[1]),
                [f"{table_path}/{d}"],
                "log_date",
                files_per_partition,
            )


def run_pipeline(
    source_df: DataFrame,
    source_name: str,
    table_path: str,
    rejected_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> PipelineResult:
    """Wire one source stream end-to-end: normalize -> foreachBatch
    (DLQ split -> partitioned parquet). ``trigger`` defaults to the
    reference's 60 s buffering hint; tests pass availableNow=True."""
    normalized = NORMALIZERS[source_name](source_df)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dlq_split(
            batch_df, table_path, rejected_path, source=source_name, batch_id=batch_id
        )

    return start_sink(normalized, handle, checkpoint, trigger)


def expire_partitions(
    spark,
    table_path: str,
    older_than: str,
    date_col: str = "log_date",
) -> list[str]:
    """K2 operational companion — RETENTION: drop every
    ``<date_col>=<value>`` partition directory older than the cutoff
    date (ISO ``YYYY-MM-DD``), across all enclosing source
    partitions. The reference's daily index rotation exists precisely
    so old indexes can be dropped wholesale (delete index = delete
    day); with date partitioning that is a directory remove — no
    rewrite, no tombstones, data outside the cutoff untouched.
    Returns the removed partition directories (relative), so the
    caller can log/audit the retention action. Uses directory names
    only — never lists file contents — so cost is O(partitions), not
    O(data). Walks and deletes through the Hadoop FileSystem API, so
    retention works on whatever filesystem the sink wrote to
    (S3A/HDFS/local), at ANY partition depth — both log layouts
    (``source=/.../log_date=`` and the compacted
    ``_commit_batch=-n/log_date=`` form) prune correctly."""
    removed: list[str] = []
    prefix = f"{date_col}="
    stack = [table_path]
    while stack:
        cur = stack.pop()
        for name in fence.list_subdir_names(spark, cur):
            if name.startswith(prefix):
                if name[len(prefix):] < older_than:
                    full = f"{cur}/{name}"
                    fence.delete_path(spark, full)
                    removed.append(full[len(table_path):].lstrip("/"))
                continue  # date dirs never nest further date dirs
            stack.append(f"{cur}/{name}")
    return sorted(removed)


def streaming_hourly_counts(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """ST2+ST3 — watermarked tumbling-hour counts, the streaming form
    of the Discover date histogram. The same expression works under
    batch (tests compare both)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour"), "source", "n")
    )


def session_windows(df: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """ST5 — session windows per source: a session closes after ``gap``
    of silence. Works identically under batch and streaming (tests run
    both); streaming needs the watermark to finalize sessions."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "source",
            "n_events",
        )
    )


class PipelineMetrics:
    """K5 — pipeline self-metrics (reference utils.ts:60-64 CloudWatch
    logging, ec2-startup.sh:41 emitMetrics): a StreamingQueryListener
    records per-micro-batch progress; ``to_df`` exposes it as a table
    the same analytic operators can query. Besides the row counts each
    row keeps the progress event's ``durationMs`` phases (addBatch,
    getBatch, latestOffset, queryPlanning, walCommit, commitOffsets,
    triggerExecution; whichever the event reports) and the event-time
    watermark (null when the query defines none)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._rows: list[tuple] = []
        rows = self._rows

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # pragma: no cover
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                rows.append(
                    (
                        str(p.id),
                        p.batchId,
                        p.timestamp,
                        p.numInputRows,
                        float(p.processedRowsPerSecond or 0.0),
                        {k: int(v) for k, v in (p.durationMs or {}).items()},
                        (p.eventTime or {}).get("watermark"),
                    )
                )

            def onQueryTerminated(self, event) -> None:  # pragma: no cover
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def to_df(self) -> DataFrame:
        return self._spark.createDataFrame(
            self._rows,
            "query_id string, batch_id long, ts string, num_input_rows long, "
            "rows_per_sec double, duration_ms map<string,long>, watermark string",
        )

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def streaming_dedup(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """ST6 — stateful streaming dedup within the watermark horizon:
    the engine's answer to Firehose at-least-once delivery
    (reference utils.ts:42,57-59)."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["source", "_raw"]
    )
