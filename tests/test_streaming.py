"""E2E streaming tests (SURVEY.md §5 item 4): file source ->
normalize -> foreachBatch DLQ split -> partitioned parquet sink,
driven with availableNow for determinism; plus watermarked windowed
aggregation and stateful streaming dedup (ST2/ST3/ST6).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.sources.logs import (
    stream_json_logs,
    stream_text_logs,
)
from unified_log_aggregation_and_analytics_spark.schemas import ECS_FIRELENS
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
    run_pipeline,
    streaming_dedup,
    streaming_hourly_counts,
)

GOOD_LINES = [
    '46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET / HTTP/1.1" 200 173 "-" "Mozilla/5.0"',
    '10.0.0.7 - - [29/Jul/2021:16:01:02 +0000] "POST /api HTTP/1.1" 500 99 "-" "curl/7.79"',
    '10.0.0.8 - - [30/Jul/2021:08:15:00 +0000] "GET /health HTTP/1.1" 404 12 "-" "kube-probe"',
]
BAD_LINES = ["this is not an apache log line", ""]


def test_ec2_pipeline_end_to_end(spark, tmp_path):
    """S1 -> T9 normalize -> K1/K2/K3: valid rows land in the
    (source, log_date)-partitioned table, junk lands in _rejected/."""
    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    (logs_dir / "access_log.1").write_text("\n".join(GOOD_LINES + BAD_LINES[:1]) + "\n")

    table = str(tmp_path / "table")
    rejected = str(tmp_path / "_rejected")
    src = stream_text_logs(spark, str(logs_dir))
    result = run_pipeline(
        src, "ec2", table, rejected, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    result.await_done()

    got = spark.read.parquet(table)
    assert got.count() == 3
    # K2: daily rotation == event-date partition directories
    dates = {r.log_date.isoformat() for r in got.select("log_date").distinct().collect()}
    assert dates == {"2021-07-29", "2021-07-30"}
    part_dirs = {d for d in os.listdir(table) if d.startswith("source=")}
    assert part_dirs == {"source=ec2"}
    # level derived from status (T9 enrichment, reference README.md:58)
    levels = {r.attrs["status"]: r.level for r in got.collect()}
    assert levels == {"200": "info", "500": "error", "404": "warn"}
    # K3: the unparseable line is dead-lettered, not dropped
    rej = spark.read.parquet(rejected)
    assert rej.count() == 1
    assert rej.collect()[0]._error == "unparseable event time"


ERROR_LINES = [
    "[Thu Jul 29 15:32:33 2021] [error] [client 72.21.198.66] File does not exist: /var/www/favicon.ico",
    "[Thu Jul 29 15:40:00.123456 2021] [core:warn] [pid 3191:tid 140] [client 10.0.0.9:4753] AH00671: retry",
    "[Fri Jul 30 06:00:01 2021] [mpm_prefork:notice] [pid 99] AH00163: resuming normal operations",
]


def test_ec2_error_log_routing(spark, tmp_path):
    """S1 both-agent-flows parity (reference ec2-startup.sh:46-49 tails
    access_log* AND error_log* into one stream): a mixed batch routes
    each format to its parser — error-log lines land TYPED in the
    table (level/module/client extracted), never in _rejected/."""
    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    (logs_dir / "access_log.1").write_text("\n".join(GOOD_LINES) + "\n")
    (logs_dir / "error_log.1").write_text("\n".join(ERROR_LINES) + "\n")

    table = str(tmp_path / "table")
    rejected = str(tmp_path / "_rejected")
    src = stream_text_logs(spark, str(logs_dir))
    run_pipeline(
        src, "ec2", table, rejected, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    ).await_done()

    got = spark.read.parquet(table)
    assert got.count() == len(GOOD_LINES) + len(ERROR_LINES)
    err_rows = {r.message: r for r in got.filter(F.col("attrs")["err_level"].isNotNull()).collect()}
    assert len(err_rows) == 3
    r22 = err_rows["File does not exist: /var/www/favicon.ico"]
    assert r22.level == "error" and r22.attrs["client_ip"] == "72.21.198.66"
    assert r22.ts.isoformat() == "2021-07-29T15:32:33"
    r24 = err_rows["AH00671: retry"]
    assert r24.level == "warn"
    assert r24.attrs["module"] == "core" and r24.attrs["pid"] == "3191"
    assert r24.attrs["client_ip"] == "10.0.0.9"  # :port stripped
    assert r24.ts.microsecond == 123456
    notice = err_rows["AH00163: resuming normal operations"]
    assert notice.level == "info" and notice.attrs["err_level"] == "notice"
    # nothing dead-lettered: every error-log line parsed (the fenced
    # empty write leaves a schema-less dir; fenced_read maps both
    # "missing" and "schema-less" to None == nothing rejected)
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    rej_df = fence.fenced_read(
        spark, rejected + "/source=ec2", table + "_commits/ec2"
    )
    assert rej_df is None or rej_df.count() == 0


def test_ecs_pipeline_end_to_end(spark, tmp_path):
    """S2 FireLens JSON -> unified table with container metadata attrs."""
    logs_dir = tmp_path / "ecs"
    logs_dir.mkdir()
    rows = [
        {
            "container_id": "abc123",
            "container_name": "httpd",
            "ecs_cluster": "demo",
            "ecs_task_arn": "arn:aws:ecs:task/1",
            "source": "stdout",
            "log": GOOD_LINES[0],
        }
    ]
    (logs_dir / "part-0.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    table = str(tmp_path / "table")
    src = stream_json_logs(spark, str(logs_dir), ECS_FIRELENS)
    result = run_pipeline(
        src, "ecs", table, str(tmp_path / "rej"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    result.await_done()
    got = spark.read.parquet(table).collect()
    assert len(got) == 1
    assert got[0].source == "ecs"
    assert got[0].attrs["container_name"] == "httpd"
    assert got[0].attrs["ecs_cluster"] == "demo"


@pytest.fixture()
def unified_stream(spark, tmp_path):
    """A small unified-schema parquet dir + its streaming reader."""
    rows = [
        ("ec2", "2021-07-29 15:05:00", "a"),
        ("ec2", "2021-07-29 15:55:00", "b"),
        ("ec2", "2021-07-29 16:10:00", "c"),
        ("eks", "2021-07-29 15:30:00", "d"),
        ("ec2", "2021-07-29 15:05:00", "a"),  # at-least-once duplicate
    ]
    df = spark.createDataFrame(rows, ["source", "ts_s", "_raw"]).select(
        "source", F.to_timestamp("ts_s").alias("ts"), "_raw"
    )
    path = str(tmp_path / "unified")
    df.write.parquet(path)
    return spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path)


def _run_to_memory(df, name):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination()


def test_streaming_hourly_counts_matches_batch(spark, unified_stream, tmp_path):
    """ST2/ST3: watermarked tumbling window under availableNow. Append
    mode only emits windows the watermark has closed: final watermark =
    max(ts) - 10 min = 16:00, so the 15:00 windows emit and the
    still-open 16:00 window is (correctly) withheld as potentially
    receiving late data."""
    _run_to_memory(streaming_hourly_counts(unified_stream), "hourly")
    got = {
        (r.hour.isoformat(), r.source): r.n
        for r in spark.sql("SELECT * FROM hourly").collect()
    }
    assert got == {
        ("2021-07-29T15:00:00", "ec2"): 3,
        ("2021-07-29T15:00:00", "eks"): 1,
    }


def test_streaming_dedup_within_watermark(spark, unified_stream):
    """ST6: dropDuplicatesWithinWatermark removes the at-least-once
    redelivery inside one watermark horizon."""
    _run_to_memory(streaming_dedup(unified_stream), "deduped")
    raws = sorted(r._raw for r in spark.sql("SELECT * FROM deduped").collect())
    assert raws == ["a", "b", "c", "d"]


def test_checkpoint_exactly_once_resume(spark, tmp_path):
    """ST7/K4: a second run over the same checkpoint ingests only new
    files — the replayed micro-batch is not re-appended (exactly-once
    file sink, an upgrade over Firehose at-least-once)."""
    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    (logs_dir / "access_log.1").write_text("\n".join(GOOD_LINES[:2]) + "\n")
    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    ckpt = str(tmp_path / "ckpt")

    for expected in (2, 3):
        src = stream_text_logs(spark, str(logs_dir))
        run_pipeline(src, "ec2", table, rej, ckpt, trigger={"availableNow": True}).await_done()
        assert spark.read.parquet(table).count() == expected
        if expected == 2:
            (logs_dir / "access_log.2").write_text(GOOD_LINES[2] + "\n")


def test_session_windows_batch(spark, unified_stream, tmp_path):
    """ST5: 30-min-gap sessions. The 15:05->15:55 gap (50 min) splits
    ec2 into two sessions; 15:55->16:10 (15 min) chains. The 15:05
    session holds the event plus its at-least-once duplicate. Append
    mode emits only sessions closed by the final watermark (16:10), so
    the 15:55-16:40 session is correctly withheld."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import session_windows

    _run_to_memory(session_windows(unified_stream, watermark="0 seconds"), "sessions")
    got = {
        (r.source, r.session_start.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got == {
        ("ec2", "2021-07-29T15:05:00", 2),
        ("eks", "2021-07-29T15:30:00", 1),
    }


def test_pipeline_metrics_listener(spark, tmp_path):
    """K5: the listener captures per-batch row counts as a queryable
    DataFrame (the engine's CloudWatch-metrics equivalent)."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import PipelineMetrics

    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    (logs_dir / "access_log.1").write_text("\n".join(GOOD_LINES) + "\n")
    metrics = PipelineMetrics(spark)
    try:
        src = stream_text_logs(spark, str(logs_dir))
        run_pipeline(
            src, "ec2", str(tmp_path / "t"), str(tmp_path / "r"), str(tmp_path / "c"),
            trigger={"availableNow": True},
        ).await_done()
        import time

        for _ in range(40):  # listener events arrive asynchronously
            if metrics._rows:
                break
            time.sleep(0.5)
        rows = metrics.to_df().collect()
        # a batch can be reported more than once (progress + terminal
        # recap) — count each batch_id once
        per_batch = {r.batch_id: r.num_input_rows for r in rows}
        assert sum(per_batch.values()) == 3
    finally:
        metrics.close()


def test_pipeline_metrics_keeps_phases_and_watermark(spark, tmp_path):
    """K5: the five row-count columns keep their names and order; the
    per-phase durations and the watermark follow them, and an ec2
    availableNow run reports its addBatch and triggerExecution."""
    import time

    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import PipelineMetrics

    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    (logs_dir / "access_log.1").write_text("\n".join(GOOD_LINES) + "\n")
    metrics = PipelineMetrics(spark)
    try:
        src = stream_text_logs(spark, str(logs_dir))
        run_pipeline(
            src, "ec2", str(tmp_path / "t"), str(tmp_path / "r"), str(tmp_path / "c"),
            trigger={"availableNow": True},
        ).await_done()
        for _ in range(40):  # listener events arrive asynchronously
            if metrics._rows:
                break
            time.sleep(0.5)
        df = metrics.to_df()
        assert df.schema.simpleString() == (
            "struct<query_id:string,batch_id:bigint,ts:string,num_input_rows:bigint,"
            "rows_per_sec:double,duration_ms:map<string,bigint>,watermark:string>"
        )
        rows = [r for r in df.collect() if r.num_input_rows > 0]
        assert rows
        for r in rows:
            assert {"addBatch", "triggerExecution"} <= set(r.duration_ms)
            assert r.duration_ms["triggerExecution"] >= r.duration_ms["addBatch"] >= 0
            assert r.watermark is None  # normalize_ec2 sets no event-time watermark
    finally:
        metrics.close()


def test_eks_pipeline_end_to_end(spark, tmp_path):
    """S3 Fluent Bit pod logs -> unified table; stderr maps to error
    level, kubernetes metadata flattens into attrs."""
    from unified_log_aggregation_and_analytics_spark.schemas import EKS_FLUENTBIT

    logs_dir = tmp_path / "eks"
    logs_dir.mkdir()
    rows = [
        {"log": "GET /index.html 200", "stream": "stdout",
         "time": "2021-07-29T15:32:33.000Z",
         "kubernetes": {"namespace_name": "nginx", "pod_name": "nginx-1",
                        "container_name": "nginx", "host": "fargate-1"}},
        {"log": "upstream timed out", "stream": "stderr",
         "time": "2021-07-29T15:33:00.000Z",
         "kubernetes": {"namespace_name": "nginx", "pod_name": "nginx-1",
                        "container_name": "nginx", "host": "fargate-1"}},
    ]
    (logs_dir / "part-0.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    table = str(tmp_path / "table")
    src = stream_json_logs(spark, str(logs_dir), EKS_FLUENTBIT)
    run_pipeline(
        src, "eks", table, str(tmp_path / "rej"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    ).await_done()
    got = {r.message: r for r in spark.read.parquet(table).collect()}
    assert got["GET /index.html 200"].level == "info"
    assert got["upstream timed out"].level == "error"
    assert got["upstream timed out"].attrs["pod"] == "nginx-1"


def test_lambda_pipeline_end_to_end(spark, tmp_path):
    """S4 telemetry batches -> unified table: platform events dropped
    (T6), tab-separated records split (T10), request id into attrs."""
    logs_dir = tmp_path / "lambda"
    logs_dir.mkdir()
    batch = [
        {"time": "2021-07-29T19:54:08.949Z", "type": "platform.start",
         "record": {"requestId": "024ae572"}},
        {"time": "2021-07-29T19:54:09.096Z", "type": "function",
         "record": "2021-07-29T19:54:09.094Z\tundefined\tINFO\tLoading function\n"},
        {"time": "2021-07-29T19:54:09.097Z", "type": "function",
         "record": "2021-07-29T19:54:09.097Z\t024ae572\tINFO\tvalue1 = value1\n"},
        {"time": "2021-07-29T19:54:09.098Z", "type": "platform.runtimeDone",
         "record": {"requestId": "024ae572", "status": "success"}},
    ]
    (logs_dir / "batch-0.txt").write_text(json.dumps(batch) + "\n")

    table = str(tmp_path / "table")
    src = stream_text_logs(spark, str(logs_dir))
    run_pipeline(
        src, "lambda", table, str(tmp_path / "rej"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    ).await_done()
    got = spark.read.parquet(table).orderBy("ts").collect()
    assert [r.message for r in got] == ["Loading function", "value1 = value1"]
    assert all(r.level == "info" for r in got)
    assert got[1].attrs["request_id"] == "024ae572"
    assert got[0].log_date.isoformat() == "2021-07-29"


def test_stateful_error_burst_alerts(spark, tmp_path):
    """Custom stateful op (applyInPandasWithState): alert fires when a
    source crosses the error threshold within one micro-batch; recover
    fires in a later batch with zero errors; state persists between
    batches via the checkpoint."""
    from unified_log_aggregation_and_analytics_spark.streaming.stateful import (
        error_burst_alerts,
    )

    src_dir = tmp_path / "uni"
    src_dir.mkdir()
    schema = "source string, level string"
    ckpt = str(tmp_path / "ckpt")
    out_path = str(tmp_path / "alerts")

    def run_batch(rows, name):
        import json as _json

        (src_dir / f"{name}.json").write_text(
            "\n".join(_json.dumps({"source": s, "level": l}) for s, l in rows) + "\n"
        )
        stream = spark.readStream.schema(schema).json(str(src_dir))
        batches = []

        def sink(bdf, _bid):
            batches.extend(tuple(r) for r in bdf.collect())
            bdf.write.mode("append").parquet(out_path)

        # NoTimeout: this test drives explicit batches; a pending
        # processing-time timer would stall each availableNow run by
        # recover_after_ms (see error_burst_alerts docstring)
        q = (
            error_burst_alerts(stream, threshold=3, timeout="NoTimeout")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return batches

    # batch 1: ec2 bursts (3 errors), eks stays quiet -> one alert row
    out1 = run_batch(
        [("ec2", "error"), ("ec2", "error"), ("ec2", "error"), ("eks", "info")],
        "b1",
    )
    assert out1 == [("ec2", "alert", 3, 3)]

    # batch 2: ec2 goes quiet -> recover (state carried across batches)
    out2 = run_batch([("ec2", "info"), ("eks", "info")], "b2")
    assert out2 == [("ec2", "recover", 3, 0)]


def test_stateful_recover_on_silent_source_timeout(spark, tmp_path):
    """The sticky-alert fix: a source that bursts and then goes SILENT
    (no rows at all in later batches) must still emit 'recover' via the
    processing-time timeout path — without it the state function is
    never invoked for absent keys and the alert never clears."""
    import json as _json
    import time

    from unified_log_aggregation_and_analytics_spark.streaming.stateful import (
        error_burst_alerts,
    )

    src_dir = tmp_path / "uni"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text(
        "\n".join(_json.dumps({"source": "ec2", "level": "error"}) for _ in range(3)) + "\n"
    )
    stream = spark.readStream.schema("source string, level string").json(str(src_dir))
    rows = []

    def sink(bdf, _bid):
        rows.extend(tuple(r) for r in bdf.collect())

    q = (
        error_burst_alerts(stream, threshold=3, recover_after_ms=2000)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not any(r[1] == "recover" for r in rows):
            time.sleep(1)
    finally:
        q.stop()
    assert ("ec2", "alert", 3, 3) in rows
    # the recover row came from the timeout path: zero batch errors,
    # no input rows for the key
    assert ("ec2", "recover", 3, 0) in rows


def test_streaming_sliding_window(spark, unified_stream):
    """ST4: 1h window sliding every 30 min under availableNow — each
    event lands in two overlapping windows; append mode emits the
    windows closed by the final watermark (16:00)."""
    from unified_log_aggregation_and_analytics_spark.operators.relational import (
        sliding_histogram,
    )

    df = unified_stream.withWatermark("ts", "10 minutes")
    _run_to_memory(sliding_histogram(df, "1 hour", "30 minutes"), "sliding")
    got = {
        (r.window_start.isoformat(), r.n)
        for r in spark.sql("SELECT * FROM sliding").collect()
    }
    # events: 15:05 x2(dup), 15:30(eks), 15:55, 16:10; watermark 16:00.
    # closed windows: [14:30,15:30) holds the 15:05 pair; [15:00,16:00)
    # holds 15:05x2 + 15:30 + 15:55.
    assert got == {
        ("2021-07-29T14:30:00", 2),
        ("2021-07-29T15:00:00", 4),
    }


def test_stream_stream_join_within_watermark(spark, tmp_path):
    """Streaming form of Q11 cross-source correlation: access events
    join error events on request id with an event-time range bound —
    both sides watermarked so state is evictable (the production
    requirement for unbounded stream-stream joins)."""
    import json as _json

    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(); b_dir.mkdir()
    acc = [
        {"rid": "r1", "ats": "2021-07-29 15:00:00", "path": "/x"},
        {"rid": "r2", "ats": "2021-07-29 15:10:00", "path": "/y"},
        {"rid": "r3", "ats": "2021-07-29 16:00:00", "path": "/z"},
    ]
    err = [
        {"rid": "r1", "ets": "2021-07-29 15:00:30", "msg": "boom"},
        {"rid": "r3", "ets": "2021-07-29 16:00:05", "msg": "oops"},
        {"rid": "r9", "ets": "2021-07-29 15:20:00", "msg": "orphan"},
    ]
    (a_dir / "a.json").write_text("\n".join(_json.dumps(r) for r in acc))
    (b_dir / "b.json").write_text("\n".join(_json.dumps(r) for r in err))

    left = (
        spark.readStream.schema("rid string, ats string, path string").json(str(a_dir))
        .select("rid", "path", F.to_timestamp("ats").alias("ats"))
        .withWatermark("ats", "10 minutes")
    )
    right = (
        spark.readStream.schema("rid string, ets string, msg string").json(str(b_dir))
        .select(F.col("rid").alias("erid"), "msg", F.to_timestamp("ets").alias("ets"))
        .withWatermark("ets", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("rid") == F.col("erid"))
        & (F.col("ets") >= F.col("ats"))
        & (F.col("ets") <= F.col("ats") + F.expr("INTERVAL 5 minutes")),
    ).select("rid", "path", "msg")
    _run_to_memory(joined, "ssjoin")
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssjoin").collect()}
    assert got == {("r1", "/x", "boom"), ("r3", "/z", "oops")}


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """ST2 late-data case: after the watermark advances past a
    window's close, a late event for that window is dropped from the
    streaming aggregate (state was finalized and evicted) — the bound
    that makes unbounded-stream aggregation memory-safe."""
    import json as _json

    src_dir = tmp_path / "late"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    collected = []

    def run(rows, name):
        (src_dir / f"{name}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )
        stream = (
            spark.readStream.schema("source string, ts_s string").json(str(src_dir))
            .select("source", F.to_timestamp("ts_s").alias("ts"))
        )
        q = (
            streaming_hourly_counts(stream, watermark="10 minutes")
            .writeStream.foreachBatch(
                lambda bdf, _bid: collected.extend(tuple(r) for r in bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: events up to 17:30 -> watermark 17:20; the 15:00 and
    # 16:00 windows close and emit
    run(
        [{"source": "ec2", "ts_s": "2021-07-29 15:10:00"},
         {"source": "ec2", "ts_s": "2021-07-29 16:20:00"},
         {"source": "ec2", "ts_s": "2021-07-29 17:30:00"}],
        "b1",
    )
    emitted_after_b1 = {(r[0].isoformat(), r[2]) for r in collected}
    assert ("2021-07-29T15:00:00", 1) in emitted_after_b1
    assert ("2021-07-29T16:00:00", 1) in emitted_after_b1

    # batch 2: a LATE 15:40 event (behind the 17:20 watermark) plus a
    # fresh 18:40 event advancing the watermark so 17:00 closes. The
    # late event's window already emitted — it must NOT re-emit or
    # change counts.
    before = len(collected)
    run(
        [{"source": "ec2", "ts_s": "2021-07-29 15:40:00"},
         {"source": "ec2", "ts_s": "2021-07-29 18:40:00"}],
        "b2",
    )
    new = collected[before:]
    hours = {r[0].isoformat() for r in new}
    assert "2021-07-29T15:00:00" not in hours  # late row dropped
    assert ("2021-07-29T17:00:00") in {h for h in hours}  # fresh window emitted


def test_compact_log_table(spark, tmp_path):
    """K1/K2 companion: three micro-batches leave one
    ``_commit_batch`` partition each under the source subtree;
    compaction folds committed rows into ONE batch partition (one
    file per log_date) with identical committed rows, and the
    pipeline keeps ingesting afterwards — batch-partition count and
    retention stay O(days), not O(triggers)."""
    import os
    from pathlib import Path

    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        compact_log_table,
        read_log_table,
    )

    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    for i, line in enumerate(GOOD_LINES):
        (logs_dir / f"access_log.{i}").write_text(line + "\n")
        run_pipeline(
            stream_text_logs(spark, str(logs_dir)), "ec2", table, rej,
            str(tmp_path / "ckpt"), trigger={"availableNow": True},
        ).await_done()

    sub = Path(table) / "source=ec2"
    assert len(list(sub.glob("_commit_batch=*"))) > 1, "fixture too small"

    def row_key(r):
        d = r.asDict()
        d["attrs"] = tuple(sorted((d["attrs"] or {}).items()))
        return tuple(sorted(d.items()))

    before = sorted(row_key(r) for r in read_log_table(spark, table).collect())
    compact_log_table(spark, table)
    assert len(list(sub.glob("_commit_batch=*"))) == 1
    for d in sub.glob("_commit_batch=*/log_date=*"):
        assert len(list(d.glob("part-*"))) == 1
    after = sorted(row_key(r) for r in read_log_table(spark, table).collect())
    assert before == after and before

    # the stream keeps ingesting into the compacted table
    (logs_dir / "access_log.99").write_text(GOOD_LINES[0] + "\n")
    run_pipeline(
        stream_text_logs(spark, str(logs_dir)), "ec2", table, rej,
        str(tmp_path / "ckpt"), trigger={"availableNow": True},
    ).await_done()
    assert read_log_table(spark, table).count() == len(before) + 1


def test_read_log_table_mixed_layouts(spark, tmp_path):
    """A table holding BOTH layouts — per-source subtrees
    (source=X/_commit_batch=N/...) AND a unified source=None write
    (_commit_batch=N/source=X/...) — must return the union. Before
    r10 the unified rows were silently dropped whenever any source
    subtree had rows (the fallback only fired on empty), and a naive
    root read would hit Spark's conflicting-partition-structure
    error; only_dirs pins the root read to the root batch dirs."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        dlq_split,
        read_log_table,
    )

    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    lines = spark.createDataFrame([(l,) for l in GOOD_LINES], "value string")
    # per-source layout: 3 rows under source=ec2/
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=0)
    # unified layout at the root: 3 more rows, _commit_batch= above source=
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source=None, batch_id=0)

    got = read_log_table(spark, table)
    assert got.count() == 2 * len(GOOD_LINES)
    assert {r["source"] for r in got.select("source").distinct().collect()} == {
        "ec2"
    }
    # each message appears exactly twice (once per layout)
    dup = got.groupBy("message").count().collect()
    assert all(r["count"] == 2 for r in dup) and len(dup) == len(GOOD_LINES)


def test_sustained_trigger_state_bounded_by_watermark(spark, tmp_path):
    """ST2 scale probe under a SUSTAINED processing-time trigger: feed
    12 hourly windows over many micro-batches plus one late row, then
    read the engine's own state-store metrics. Watermark eviction must
    (a) count the late row in numRowsDroppedByWatermark and (b) keep
    numRowsTotal bounded at the few open windows — never the full
    window history — which is what makes unbounded-stream aggregation
    memory-safe at 100 TB/day."""
    import json as _json
    import time

    src_dir = tmp_path / "sustained"
    src_dir.mkdir()
    stream = (
        spark.readStream.schema("source string, ts_s string")
        .option("maxFilesPerTrigger", 1)  # one event-hour per micro-batch
        .json(str(src_dir))
        .select("source", F.to_timestamp("ts_s").alias("ts"))
    )
    q = (
        streaming_hourly_counts(stream, watermark="10 minutes")
        .writeStream.foreachBatch(lambda bdf, _bid: bdf.count())
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # sf0.1-scale volume: 5 000 events per hourly micro-batch
        # (60 000 rows total — the sf0.1 events-table order of
        # magnitude). Row volume must NOT inflate state: the windowed
        # agg keeps one state row per open (window, source), so the
        # bound below is identical at 1 row/batch and 5 000.
        for h in range(12):
            rows = "\n".join(
                _json.dumps(
                    {"source": "ec2", "ts_s": f"2021-07-29 {8 + h}:00:{s % 60:02d}"}
                )
                for s in range(5000)
            )
            (src_dir / f"b{h:02d}.json").write_text(rows + "\n")
        # a late straggler: hours behind the final 19:50 watermark
        (src_dir / "late.json").write_text(
            _json.dumps({"source": "ec2", "ts_s": "2021-07-29 08:05:00"}) + "\n"
        )
        deadline = time.time() + 90
        progs = []
        while time.time() < deadline:
            time.sleep(1)
            progs = [_json.loads(p.json) for p in q.recentProgress]
            ops = [p["stateOperators"][0] for p in progs if p.get("stateOperators")]
            if sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) >= 1:
                break
    finally:
        q.stop()
    ops = [p["stateOperators"][0] for p in progs if p.get("stateOperators")]
    assert ops, "no state-operator progress recorded"
    assert sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) >= 1
    max_state = max(o["numRowsTotal"] for o in ops)
    # 12 distinct windows flowed through; eviction must keep only the
    # open tail (current window + the one racing the watermark)
    assert max_state <= 4, f"state grew to {max_state} rows — eviction broken"


def test_kinesis_contract_config_and_decode_boundary(spark, tmp_path):
    """S5 contract (sandbox has no Kinesis): the option map handed to
    format('kinesis') is validated and exact; connector records with
    the documented schema decode through kinesis_records_to_lines into
    the SAME normalize -> DLQ -> sink pipeline the file sources drive;
    and without the connector jar stream_kinesis fails loud."""
    from datetime import datetime

    from unified_log_aggregation_and_analytics_spark.sources.logs import (
        KINESIS_RECORD_SCHEMA,
        kinesis_records_to_lines,
        kinesis_source_config,
        stream_kinesis,
    )
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        dlq_split,
    )

    # option-map contract, pinned to the public awslabs
    # spark-sql-kinesis-connector spec: format 'aws-kinesis', every
    # option under the 'kinesis.' prefix (Spark option lookup is
    # case-insensitive, so the prefix+spelling are the contract, not
    # the casing), consumerType one of GetRecords/SubscribeToShard,
    # startingPosition one of the connector's documented positions.
    from unified_log_aggregation_and_analytics_spark.sources.logs import (
        KINESIS_FORMAT,
    )

    assert KINESIS_FORMAT == "aws-kinesis"
    assert kinesis_source_config("app-logs", region="eu-west-1") == {
        "kinesis.streamName": "app-logs",
        "kinesis.region": "eu-west-1",
        "kinesis.consumerType": "GetRecords",
        "kinesis.startingPosition": "LATEST",
    }
    cfg = kinesis_source_config(
        "s", starting_position="trim_horizon", endpoint_url="http://localstack:4566"
    )
    assert cfg["kinesis.startingPosition"] == "TRIM_HORIZON"
    assert cfg["kinesis.endpointUrl"] == "http://localstack:4566"
    # EARLIEST is the Kinesis-API synonym; the connector documents
    # TRIM_HORIZON — config normalizes rather than shipping a value
    # the connector would reject at stream start
    assert (
        kinesis_source_config("s", starting_position="earliest")[
            "kinesis.startingPosition"
        ]
        == "TRIM_HORIZON"
    )
    assert (
        kinesis_source_config("s", consumer_type="SubscribeToShard")[
            "kinesis.consumerType"
        ]
        == "SubscribeToShard"
    )
    # every emitted option sits under the connector's prefix
    for cfg_keys in (
        kinesis_source_config("s"),
        kinesis_source_config("s", endpoint_url="http://localstack:4566"),
    ):
        assert all(k.startswith("kinesis.") for k in cfg_keys)
    with pytest.raises(ValueError, match="non-empty"):
        kinesis_source_config("  ")
    with pytest.raises(ValueError, match="starting_position"):
        kinesis_source_config("s", starting_position="YESTERDAY")
    with pytest.raises(ValueError, match="consumer_type"):
        kinesis_source_config("s", consumer_type="Polling")

    # decode boundary: documented record schema -> value lines -> the
    # identical EC2 normalize/DLQ path the file-tail source feeds
    now = datetime(2021, 7, 29, 15, 0, 0)
    records = spark.createDataFrame(
        [
            (GOOD_LINES[0].encode(), "app-logs", "pk-1", "seq-1", now),
            (BAD_LINES[0].encode(), "app-logs", "pk-1", "seq-2", now),
        ],
        KINESIS_RECORD_SCHEMA,
    )
    lines = kinesis_records_to_lines(records)
    assert lines.columns == ["value"]
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
    )

    table, rejected = str(tmp_path / "t"), str(tmp_path / "r")
    dlq_split(NORMALIZERS["ec2"](lines), table, rejected)
    assert spark.read.parquet(table).count() == 1
    assert spark.read.parquet(rejected).count() == 1

    # plan boundary: no connector jar -> loud NotImplementedError
    with pytest.raises(NotImplementedError, match="connector"):
        stream_kinesis(spark, "app-logs")


def test_unified_four_source_topology(spark, tmp_path):
    """The reference's ACTUAL composition as one assertion
    (lib/cdk-unified-logs-stack.ts:52-64: four compute producers ->
    four delivery streams -> ONE search domain): ec2 + ecs + eks +
    lambda streams each normalize through their own pipeline with
    their own DLQ, all landing in ONE (source, log_date)-partitioned
    queryable table — the engine's 'unified index'. A single query
    over the union answers per-source/date analytics, and each
    source's junk dead-letters to its own path without poisoning the
    others."""
    from unified_log_aggregation_and_analytics_spark.schemas import (
        ECS_FIRELENS,
        EKS_FLUENTBIT,
    )

    # --- four source directories, one payload each + ec2 junk ---
    ec2_dir = tmp_path / "ec2"
    ec2_dir.mkdir()
    (ec2_dir / "access_log.1").write_text("\n".join(GOOD_LINES + BAD_LINES[:1]) + "\n")

    ecs_dir = tmp_path / "ecs"
    ecs_dir.mkdir()
    (ecs_dir / "part-0.json").write_text(
        json.dumps(
            {
                "container_id": "abc123",
                "container_name": "httpd",
                "ecs_cluster": "demo",
                "ecs_task_arn": "arn:aws:ecs:task/1",
                "source": "stdout",
                "log": GOOD_LINES[1],
            }
        )
        + "\n"
    )

    eks_dir = tmp_path / "eks"
    eks_dir.mkdir()
    (eks_dir / "part-0.json").write_text(
        json.dumps(
            {
                "log": "upstream timed out",
                "stream": "stderr",
                "time": "2021-07-29T15:33:00.000Z",
                "kubernetes": {
                    "namespace_name": "nginx",
                    "pod_name": "nginx-1",
                    "container_name": "nginx",
                    "host": "fargate-1",
                },
            }
        )
        + "\n"
    )

    lambda_dir = tmp_path / "lambda"
    lambda_dir.mkdir()
    (lambda_dir / "batch-0.txt").write_text(
        json.dumps(
            [
                {
                    "time": "2021-07-29T19:54:08.949Z",
                    "type": "platform.start",
                    "record": {"requestId": "024ae572"},
                },
                {
                    "time": "2021-07-29T19:54:09.097Z",
                    "type": "function",
                    "record": "2021-07-29T19:54:09.097Z\t024ae572\tERROR\tboom\n",
                },
            ]
        )
        + "\n"
    )

    # --- one unified table, per-source DLQs/checkpoints ---
    table = str(tmp_path / "unified_table")
    sources = {
        "ec2": stream_text_logs(spark, str(ec2_dir)),
        "ecs": stream_json_logs(spark, str(ecs_dir), ECS_FIRELENS),
        "eks": stream_json_logs(spark, str(eks_dir), EKS_FLUENTBIT),
        "lambda": stream_text_logs(spark, str(lambda_dir)),
    }
    results = [
        run_pipeline(
            src,
            name,
            table,
            str(tmp_path / f"rej_{name}"),
            str(tmp_path / f"ckpt_{name}"),
            trigger={"availableNow": True},
        )
        for name, src in sources.items()
    ]
    for r in results:
        r.await_done()

    unified = spark.read.parquet(table)
    # every source present, partition layout is the 'index pattern'
    per_source = {
        r["source"]: r["n"]
        for r in unified.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_source == {"ec2": 3, "ecs": 1, "eks": 1, "lambda": 1}
    part_dirs = {d for d in os.listdir(table) if d.startswith("source=")}
    assert part_dirs == {"source=ec2", "source=ecs", "source=eks", "source=lambda"}

    # the unified Discover query: per-source/level counts in one scan
    levels = {
        (r["source"], r["level"]): r["n"]
        for r in unified.groupBy("source", "level")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert levels[("eks", "error")] == 1
    assert levels[("lambda", "error")] == 1
    assert levels[("ec2", "error")] == 1  # the 500 access line

    # per-source DLQ isolation: only ec2 had junk (fenced read: a
    # schema-less dir from an all-valid batch's empty write == 0)
    from unified_log_aggregation_and_analytics_spark.streaming import fence

    rej_counts = {}
    for name in sources:
        df = fence.fenced_read(
            spark,
            str(tmp_path / f"rej_{name}" / f"source={name}"),
            f"{table}_commits/{name}",
        )
        rej_counts[name] = df.count() if df is not None else 0
    assert rej_counts["ec2"] == 1
    assert rej_counts["ecs"] == rej_counts["eks"] == rej_counts["lambda"] == 0


def test_expire_partitions_retention(spark, tmp_path):
    """Retention drops exactly the sub-cutoff log_date directories
    across all sources, leaves newer data readable and intact, and
    reports what it removed."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        expire_partitions,
    )

    rows = [
        (src, day, i)
        for src in ("ec2", "eks")
        for day in ("2026-01-01", "2026-01-02", "2026-01-03")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "source string, log_date string, v int")
    table = str(tmp_path / "retained")
    df.write.partitionBy("source", "log_date").parquet(table)

    removed = expire_partitions(spark, table, older_than="2026-01-03")
    assert len(removed) == 4  # 2 sources x 2 old days
    assert all("2026-01-03" not in r for r in removed)

    left = spark.read.parquet(table)
    assert left.count() == 10
    days = {str(r.log_date) for r in left.select("log_date").distinct().collect()}
    assert days == {"2026-01-03"}  # partition values infer as dates
    # idempotent: nothing left to expire
    assert expire_partitions(spark, table, older_than="2026-01-03") == []


def test_streaming_heavy_hitters_state_accumulates(spark, tmp_path):
    """Streaming Misra-Gries: per-shard counters persist across
    micro-batches — a key that is heavy ACROSS batches (but not within
    any single one) is captured with its estimate honoring the
    n/(capacity+1) bound over the whole history."""
    import json as _json

    from unified_log_aggregation_and_analytics_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    src_dir = tmp_path / "hh"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run_batch(keys, name):
        (src_dir / f"{name}.json").write_text(
            "\n".join(_json.dumps({"k": k}) for k in keys) + "\n"
        )
        stream = spark.readStream.schema("k string").json(str(src_dir))
        rows = []

        def sink(bdf, _bid):
            rows.extend(bdf.collect())

        q = (
            heavy_hitters_stream(stream, "k", capacity=4, n_shards=1)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["k"]: r for r in rows}

    # batch 1: hot appears 5x among 12 distinct fillers (overflows cap=4)
    b1 = run_batch(["hot"] * 5 + [f"x{i}" for i in range(12)], "b1")
    # batch 2: hot appears 5x more + new fillers
    b2 = run_batch(["hot"] * 5 + [f"y{i}" for i in range(12)], "b2")
    assert "hot" in b2, "cross-batch heavy key must survive in state"
    est, n = b2["hot"]["est"], b2["hot"]["shard_n"]
    true = 10
    assert n == 34
    assert est <= true <= est + n // (4 + 1)
    # state really accumulated: batch-2 estimate exceeds any single
    # batch's possible count minus bound
    assert est > b1.get("hot", {"est": 0})["est"] if "hot" in b1 else True


def test_csv_source_corrupt_record_dlq(spark, tmp_path):
    """CSV export ingestion is poison-proof: well-formed rows parse to
    the declared schema, malformed lines (wrong arity / bad types)
    land in the DLQ with the raw line intact for replay — never a job
    failure, never a silent drop (the batch analog of the streaming
    DLQ split)."""
    from pyspark.sql import types as T

    from unified_log_aggregation_and_analytics_spark.sources.logs import (
        csv_dlq_split,
        read_csv_logs,
    )

    p = tmp_path / "elb.csv"
    p.write_text(
        "2024-01-01T00:00:00,GET,/index.html,200,123\n"
        "2024-01-01T00:00:01,POST,/api/login,401,87\n"
        "this line is not a csv record at all\n"
        "2024-01-01T00:00:02,GET,/health,200,notanumber\n"
        "2024-01-01T00:00:03,GET,/metrics,200,55\n"
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("method", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("bytes", T.LongType()),
        ]
    )
    df = read_csv_logs(spark, str(p), schema)
    clean, dlq = csv_dlq_split(df)
    clean_rows = clean.collect()
    dlq_rows = [r["raw"] for r in dlq.collect()]

    assert len(clean_rows) == 3
    assert {r["path"] for r in clean_rows} == {"/index.html", "/api/login", "/metrics"}
    assert all(isinstance(r["bytes"], int) for r in clean_rows)
    assert len(dlq_rows) == 2
    assert any("not a csv record" in r for r in dlq_rows)
    assert any("notanumber" in r for r in dlq_rows)
    # DLQ rows carry their source file for replay
    assert all(r["src_file"].endswith("elb.csv") for r in dlq.collect())
    # clean frame no longer carries the corrupt column
    assert "_corrupt_record" not in clean.columns


def test_misra_gries_summary_keeps_stream_length_on_full_eviction(spark):
    """capacity+1 equal-count keys evict EVERY counter in the final
    overflow; the shard must still report its stream length via a
    null-key sentinel row, or the certificate's global n undercounts
    and false heavy hitters pass the threshold."""
    from pyspark.sql import functions as F

    from unified_log_aggregation_and_analytics_spark.operators.sketches import (
        heavy_hitters_certificate,
        misra_gries_summary,
    )

    df = spark.createDataFrame([(k,) for k in "abcde"], ["k"])
    summary = misra_gries_summary(df, "k", capacity=4, n_shards=1).collect()
    assert len(summary) == 1 and summary[0].k is None
    assert summary[0].est == 0 and summary[0].shard_n == 5
    # certificate: no key exceeds n/(capacity+1)=1, so no heavy hitters
    cert = heavy_hitters_certificate(df, "k", capacity=4, n_shards=1)
    assert cert.count() == 0


def test_percolate_as_streaming_alert_evaluator(spark, tmp_path):
    """percolate inside foreachBatch: stored alert conditions fire on
    the micro-batches that contain matching documents — the
    saved-search alerting loop."""
    from unified_log_aggregation_and_analytics_spark.operators.relational import percolate

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "spark vector merge"), (2, "customer order"), (3, "nothing here")],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(src))

    stored = spark.createDataFrame(
        [("a_sv", ["spark", "vector"]), ("a_cust", ["customer"])],
        "query_id string, terms array<string>",
    )
    alerts_path = str(tmp_path / "alerts")

    def evaluate(batch_df, bid):
        percolate(batch_df, stored).withColumn(
            "batch_id", F.lit(int(bid))
        ).write.mode("append").parquet(alerts_path)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src))
        .writeStream.foreachBatch(evaluate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fired = {(r.doc_id, r.query_id) for r in spark.read.parquet(alerts_path).collect()}
    assert fired == {(1, "a_sv"), (2, "a_cust")}


def test_log_pipeline_torn_batch_replay_no_duplicates(spark, tmp_path, monkeypatch):
    """K4 kill-between-appends e2e for the manifest-fenced K1 sink:
    the batch dies after the table append but before the DLQ append.
    Torn rows are invisible to read_log_table (no marker); the replay
    recomputes the split and replaces the torn partitions — no
    duplicate rows, DLQ intact, and a committed replay no-ops."""
    from pathlib import Path

    from unified_log_aggregation_and_analytics_spark.streaming import fence
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        dlq_split,
        read_log_table,
    )

    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    lines = spark.createDataFrame(
        [(l,) for l in GOOD_LINES + BAD_LINES[:1]], "value string"
    )
    batch = NORMALIZERS["ec2"](lines)

    real_append = fence.fenced_append

    def killed_at_dlq(df, path, batch_id, partition_cols=()):
        if "/rej" in path:
            raise RuntimeError("simulated kill between table and DLQ appends")
        return real_append(df, path, batch_id, partition_cols)

    monkeypatch.setattr(fence, "fenced_append", killed_at_dlq)
    with pytest.raises(RuntimeError, match="simulated kill"):
        dlq_split(batch, table, rej, source="ec2", batch_id=0)
    monkeypatch.undo()

    # torn: table partition exists on disk but is not committed
    assert (Path(table) / "source=ec2" / "_commit_batch=0").is_dir()
    root = f"{table}_commits/ec2"
    assert not fence.is_committed(spark, root, 0)
    assert fence.fenced_read(spark, f"{table}/source=ec2", root).count() == 0

    dlq_split(batch, table, rej, source="ec2", batch_id=0)  # replay

    got = read_log_table(spark, table)
    assert got.count() == 3
    assert got.groupBy("_raw").count().filter("count > 1").count() == 0
    dlq = spark.read.parquet(f"{rej}/source=ec2")
    assert dlq.count() == 1 and dlq.collect()[0]["_error"] == "unparseable event time"
    # committed replay: exact no-op
    dlq_split(batch, table, rej, source="ec2", batch_id=0)
    assert read_log_table(spark, table).count() == 3


def test_expire_partitions_on_fenced_log_table(spark, tmp_path):
    """K2 retention composed with the round-8 fenced layout
    (source=X/_commit_batch=N/log_date=D): expire walks every batch
    partition, drops exactly the sub-cutoff day directories, and the
    fenced committed reader keeps working on what remains — the
    compact-then-expire maintenance cadence the module documents."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        compact_log_table,
        dlq_split,
        expire_partitions,
        read_log_table,
    )

    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    # two batches, two event days each (GOOD_LINES spans 07-29/07-30)
    lines = spark.createDataFrame([(l,) for l in GOOD_LINES], "value string")
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=0)
    dlq_split(
        NORMALIZERS["ec2"](lines.limit(3)), table, rej, source="ec2", batch_id=1
    )
    assert read_log_table(spark, table).count() == 6

    removed = expire_partitions(spark, table, older_than="2021-07-30")
    # the 07-29 day dir existed under BOTH batch partitions
    assert len(removed) == 2
    assert all("log_date=2021-07-29" in r for r in removed)
    left = read_log_table(spark, table)
    assert left.count() == 2  # one 07-30 row per batch
    assert {r.log_date.isoformat() for r in left.collect()} == {"2021-07-30"}

    # after compaction the same retention is one directory per day
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=2)
    compact_log_table(spark, table)
    removed = expire_partitions(spark, table, older_than="2021-07-30")
    assert len(removed) == 1
    assert read_log_table(spark, table).count() == 3


def test_unified_layout_dlq_split_readable_through_fence(spark, tmp_path):
    """The ``source=None`` single-writer layout of dlq_split
    (``table/_commit_batch=N/source=X/...``, markers under ``_all``)
    must be readable through read_log_table — committed rows come
    back with the source column restored via partition discovery, and
    a torn later batch stays invisible (the r8 gap: this branch's
    rows were unreachable through the fenced reader)."""
    from unified_log_aggregation_and_analytics_spark.streaming.fence import (
        committed_batches,
    )
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        dlq_split,
        read_log_table,
    )

    table, rejected = str(tmp_path / "t"), str(tmp_path / "r")
    lines = spark.createDataFrame([(ln,) for ln in GOOD_LINES], "value string")
    dlq_split(NORMALIZERS["ec2"](lines), table, rejected)  # source=None
    got = read_log_table(spark, table)
    assert got.count() == len(GOOD_LINES)
    assert set(r["source"] for r in got.select("source").collect()) == {"ec2"}
    # second manual call allocates the next committed slot (not a
    # silent no-op), and its rows are visible too
    dlq_split(NORMALIZERS["ec2"](lines.limit(1)), table, rejected)
    assert committed_batches(spark, f"{table}_commits/_all") == [0, 1]
    assert read_log_table(spark, table).count() == len(GOOD_LINES) + 1


def test_retention_prunes_inside_compacted_layout(spark, tmp_path):
    """Retention x compaction: after compact_log_table folds the
    committed batches into the negative compaction partition,
    expire_partitions must still find and drop the nested
    ``log_date=`` dirs (the Hadoop-FS walk descends source= and
    _commit_batch=-n alike), and the fenced reader sees exactly the
    surviving days."""
    from pathlib import Path

    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        compact_log_table,
        expire_partitions,
        read_log_table,
    )

    logs_dir = tmp_path / "logs"
    logs_dir.mkdir()
    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    for i, line in enumerate(GOOD_LINES):  # days 07-29, 07-29, 07-30
        (logs_dir / f"access_log.{i}").write_text(line + "\n")
        run_pipeline(
            stream_text_logs(spark, str(logs_dir)), "ec2", table, rej,
            str(tmp_path / "ckpt"), trigger={"availableNow": True},
        ).await_done()
    compact_log_table(spark, table)
    sub = Path(table) / "source=ec2"
    dirs = [p.name for p in sub.glob("_commit_batch=*")]
    assert dirs == ["_commit_batch=-1"], dirs  # compacted layout

    removed = expire_partitions(spark, table, older_than="2021-07-30")
    assert removed == ["source=ec2/_commit_batch=-1/log_date=2021-07-29"], removed
    got = read_log_table(spark, table)
    assert got.count() == 1
    assert got.collect()[0]["log_date"].isoformat() == "2021-07-30"


def test_read_log_table_as_of_snapshot(spark, tmp_path):
    """Per-writer snapshot reads (r11): log_table_snapshot records
    the max committed id in EACH writer's own id space; re-reads with
    that dict are unchanged by (a) later batches in existing sources,
    (b) an OLD batch id committed by a slower source after the
    snapshot (the mixed-cadence hole a single global max has), and
    (c) a brand-new source appearing later. The int form still
    applies one global bound to every writer."""
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        dlq_split,
        log_table_snapshot,
        read_log_table,
    )

    table = str(tmp_path / "table")
    rej = str(tmp_path / "rej")
    lines = spark.createDataFrame([(l,) for l in GOOD_LINES], "value string")
    n = len(GOOD_LINES)

    # fast source: batches 0 and 5 committed; slow source: batch 0 only
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=0)
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=5)
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="eks", batch_id=0)

    snap = log_table_snapshot(spark, table)
    assert snap == {"ec2": 5, "eks": 0}
    base = read_log_table(spark, table, as_of_batch=snap).count()
    assert base == read_log_table(spark, table).count()

    # (a) a later ec2 batch, (b) the slow eks source commits batch 3
    # (<= ec2's pinned 5 — the global-int hole), (c) a new source
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ec2", batch_id=6)
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="eks", batch_id=3)
    dlq_split(NORMALIZERS["ec2"](lines), table, rej, source="ecs", batch_id=0)

    assert read_log_table(spark, table, as_of_batch=snap).count() == base
    # the int form admits eks batch 3 (<= 5) — exactly the documented
    # mixed-cadence caveat the dict form closes
    assert read_log_table(spark, table, as_of_batch=5).count() > base
    # unpinned read sees everything
    assert read_log_table(spark, table).count() > base + n


def test_malformed_fields_route_to_dlq_under_ansi(spark, tmp_path):
    """Under ANSI mode one malformed field in a log line must not fail
    the micro-batch: an impossible date or an unparseable event time
    sends the line to the DLQ with a null ``ts``, a non-numeric bytes
    value or an overflowing pid reads as null, and the good rows come
    out exactly as they do in a batch of their own."""
    from unified_log_aggregation_and_analytics_spark.schemas import EKS_FLUENTBIT
    from unified_log_aggregation_and_analytics_spark.streaming.pipeline import (
        NORMALIZERS,
        dlq_split,
        read_log_table,
    )

    bad_date = '10.0.0.9 - - [99/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 5 "-" "ua"'
    bad_bytes = '10.0.0.10 - - [29/Jul/2021:17:00:00 +0000] "GET /big HTTP/1.1" 200 12k "-" "ua"'
    big_pid = (
        "[Thu Jul 29 18:00:00.123456 2021] [core:error] "
        "[pid 99999999999999999999] [client 10.0.0.1:4753] boom"
    )
    kube = {"namespace_name": "ns", "pod_name": "p", "container_name": "c",
            "host": "h", "labels": None}
    eks_good = ("GET / 200", "stdout", "2021-07-29T15:32:33.000Z", kube)
    lam_good = {"time": "2021-07-29T19:54:09.096Z", "type": "function",
                "record": "2021-07-29T19:54:09.094Z\treq-1\tINFO\tfine\n"}
    lam_bad = {"time": "not-a-time", "type": "function",
               "record": "not-a-time\treq-2\tINFO\tbroken\n"}
    batches = {
        "ec2": (
            [(ln,) for ln in GOOD_LINES],
            [(ln,) for ln in [bad_date, bad_bytes, big_pid]],
            "value string",
        ),
        "ecs": (
            [(ln, "c1", "web", "cl", "arn", "td", "stdout") for ln in GOOD_LINES],
            [(bad_date, "c1", "web", "cl", "arn", "td", "stdout")],
            ECS_FIRELENS,
        ),
        "eks": ([eks_good], [("oops", "stderr", "not-a-time", kube)], EKS_FLUENTBIT),
        "lambda": ([(json.dumps([lam_good]),)], [(json.dumps([lam_bad]),)], "value string"),
    }

    def key(r):
        return (r.message, r.level, str(r.ts), str(r.log_date), sorted(r.attrs.items()))

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for src, (good, bad, schema) in batches.items():
            norm = NORMALIZERS[src]
            alone = sorted(key(r) for r in norm(spark.createDataFrame(good, schema)).collect())
            table, rej = str(tmp_path / src / "t"), str(tmp_path / src / "r")
            dlq_split(
                norm(spark.createDataFrame(good + bad, schema)), table, rej,
                source=src, batch_id=0,
            )
            got = {r._raw: r for r in read_log_table(spark, table).collect()}
            dlq = spark.read.parquet(f"{rej}/source={src}").collect()
            if src == "ec2":
                assert [r._raw for r in dlq] == [bad_date]
                assert "bytes" not in got[bad_bytes].attrs
                assert got[bad_bytes].attrs["status"] == "200"
                assert "pid" not in got[big_pid].attrs
                assert got[big_pid].attrs["module"] == "core"
                got = {k: v for k, v in got.items() if k in GOOD_LINES}
            else:
                assert len(dlq) == 1
            assert all(r.ts is None for r in dlq)
            assert sorted(key(r) for r in got.values()) == alone
            assert alone and all(k[2] != "None" for k in alone)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
