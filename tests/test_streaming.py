"""Structured Streaming tests (SURVEY.md §2.7 stream_*): the real
streaming runtime — readStream over the events parquet, watermarked
windowed aggregation into a memory sink, driven to completion with
processAllAvailable().  Results must equal the batch twin on the same
data (same logical window semantics)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from instructions_mr_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    batch = load_table(spark, sf_dir, "events")
    # file streaming source needs a directory + explicit schema; a
    # TIMESTAMP(NANOS) ts arrives as bigint (see load_table) and
    # converts the same way, a µs ts arrives as timestamp_ntz as-is.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream_dir = tmp_path_factory.mktemp("events_stream")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), stream_dir / "part-0.parquet"
    )
    stream = spark.readStream.schema(raw.schema).format("parquet").load(str(stream_dir))
    if dict(raw.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # withWatermark rejects TIMESTAMP_NTZ event time
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); pin both twins to plain
    # TIMESTAMP so stream and batch collect identical instants.
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream, batch


def _run_to_completion(df, name: str, mode: str):
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_tumbling_agg_matches_batch(spark, events_stream):
    stream, batch = events_stream
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    _run_to_completion(agg, "stream_tumble_t", "append")
    got = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM stream_tumble_t").collect()
    }
    expected = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # watermark may hold back the trailing window in append mode; all
    # emitted windows must match batch exactly and cover nearly all.
    assert got
    for k, v in got.items():
        assert expected[k] == v
    assert len(got) >= len(expected) - 4


def test_stream_dedup_with_watermark(spark, events_stream):
    stream, batch = events_stream
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicates(["user_id", "event_type"])
    _run_to_completion(dedup, "stream_dedup_t", "append")
    got = spark.sql("SELECT count(*) AS n FROM stream_dedup_t").collect()[0].n
    distinct_keys = batch.select("user_id", "event_type").distinct().count()
    assert got == distinct_keys


def test_stream_session_window(spark, events_stream):
    stream, batch = events_stream
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    _run_to_completion(sess, "stream_session_t", "append")
    emitted = spark.sql("SELECT count(*) AS n FROM stream_session_t").collect()[0].n
    batch_sessions = (
        batch.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .count()
    )
    assert emitted > 0
    assert emitted <= batch_sessions


def test_stateful_running_max(spark, events_stream):
    """applyInPandasWithState custom stateful operator: final per-user
    state must equal the batch max/count."""
    from instructions_mr_spark.streaming import running_max_per_user

    stream, batch = events_stream
    out = running_max_per_user(stream)
    _run_to_completion(out, "stream_state_t", "update")
    import pandas as pd

    got = (
        spark.sql(
            "SELECT user_id, max(max_value) AS mx, max(n_events) AS n "
            "FROM stream_state_t GROUP BY user_id"
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    exp = (
        batch.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["mx"] == exp["mx"]).all()
    assert (got["n"] == exp["n"]).all()


def test_user_stats_fallback_apws(spark, events_stream):
    """Stateful user stats (applyInPandasWithState) must produce the
    same final per-user stats as the batch aggregate."""
    from instructions_mr_spark.streaming import user_stats_stateful

    stream, batch = events_stream
    out = user_stats_stateful(stream)
    _run_to_completion(out, "apws_stats_t", "update")
    got = {
        r.user_id: (r.n, r.np)
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n, max(n_purchases) AS np "
            "FROM apws_stats_t GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: (r.n, r.np)
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("np"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stateful_session_funnel(spark, events_stream, sf_dir, tmp_path):
    """applyInPandasWithState sessionization with event-time timeout:
    every emitted (closed) session must equal its batch-twin row
    exactly — start/end/count/purchases/conversion.  A far-future
    sentinel batch pushes the watermark so real sessions time out and
    flush."""
    import datetime as dt
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark import registry
    from instructions_mr_spark.streaming import session_funnel

    _, batch = events_stream

    # fresh stream dir: the real events file + a sentinel event far in
    # the future (one synthetic user) to advance the watermark past
    # every real session's end.
    stream_dir = tmp_path / "funnel_stream"
    stream_dir.mkdir()
    _os.symlink(
        _os.path.join(sf_dir, "events.parquet"), stream_dir / "part-0.parquet"
    )
    raw = spark.read.parquet(_os.path.join(sf_dir, "events.parquet"))
    ts_is_ns_bigint = dict(raw.dtypes).get("ts") == "bigint"
    max_ts = batch.agg(F.max("ts")).first()[0]
    sentinel_dt = max_ts + dt.timedelta(days=365)
    if ts_is_ns_bigint:
        sentinel_ts = pa.array(
            [int(sentinel_dt.timestamp()) * 1_000_000_000], pa.int64()
        )
    else:
        sentinel_ts = pa.array(
            [sentinel_dt.replace(tzinfo=None)], pa.timestamp("us")
        )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([10**9], pa.int64()),
                "ts": sentinel_ts,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["view"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        ),
        str(stream_dir / "part-1.parquet"),
    )

    stream = (
        spark.readStream.schema(raw.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(stream_dir))
    )
    if ts_is_ns_bigint:
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = session_funnel(stream, gap_minutes=30, watermark="1 minute")
    assert out.isStreaming
    _run_to_completion(out, "funnel_t", "append")

    got = {
        (r.user_id, r.session_start): (
            r.session_end,
            r.n_events,
            r.n_purchases,
            r.converted,
        )
        for r in spark.sql(
            "SELECT * FROM funnel_t WHERE user_id >= 0"
        ).collect()
    }
    want = {
        (r.user_id, r.session_start): (
            r.session_end,
            r.n_events,
            r.n_purchases,
            r.converted,
        )
        for r in registry.QUERIES["stream_funnel_sessions"](spark, sf_dir).collect()
    }
    assert got, "no sessions were emitted"
    for k, v in got.items():
        assert want[k] == v, f"session {k}: stream={v} batch={want[k]}"
    # the sentinel pushed the watermark past every real session: the
    # stream must have flushed (nearly) the full batch-twin set
    assert len(got) >= len(want) - 1


def test_watermark_drops_late_data(spark, tmp_path):
    """Drive two micro-batches through a watermarked tumbling window:
    the second batch's very-late event must be dropped (its window is
    behind the watermark), while batch mode over the same files counts
    it — the exact late-data semantics the reference cannot express."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    import pyarrow as pa
    import pyarrow.parquet as pq

    stream_dir = tmp_path / "late_stream"
    stream_dir.mkdir()
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def drop_file(name: str, rows: list[tuple[int, dt.datetime]]):
        tbl = pa.table(
            {
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, str(stream_dir / name))

    schema = "id long, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(str(stream_dir))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_t")
        .start()
    )
    try:
        # batch 1: on-time events advance the watermark to ~13:40
        drop_file("batch1.parquet", [(i, t0 + dt.timedelta(minutes=10 * i)) for i in range(12)])
        q.processAllAvailable()
        # batch 2: an event 3h behind the watermark — must be dropped
        drop_file("batch2.parquet", [(99, t0 - dt.timedelta(hours=3))])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {r.ws: r.n for r in spark.sql("SELECT * FROM late_drop_t").collect()}

    late_window = t0 - dt.timedelta(hours=3)
    assert late_window not in emitted  # dropped: behind the watermark
    assert sum(emitted.values()) <= 12  # only on-time rows counted

    # batch mode over the same files DOES see the late event
    batch = (
        spark.read.schema(schema)
        .parquet(str(stream_dir / "batch*"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    starts = [r["w"]["start"] for r in batch.collect()]
    assert late_window in starts


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-bound condition:
    clicks join views of the same user within 30 minutes before the
    click.  The reference cannot express any join, let alone a
    streaming one (SURVEY.md §2.6)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def write(dirname: str, rows):
        d = tmp_path / dirname
        d.mkdir()
        tbl = pa.table(
            {
                "uid": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "tag": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, str(d / "part.parquet"))
        return str(d)

    views_dir = write(
        "views",
        [(1, t0, "v1"), (1, t0 + dt.timedelta(hours=2), "v2"), (2, t0, "v3")],
    )
    clicks_dir = write(
        "clicks",
        [
            (1, t0 + dt.timedelta(minutes=10), "c1"),  # joins v1
            (1, t0 + dt.timedelta(hours=3), "c2"),     # no view within 30m
            (2, t0 + dt.timedelta(minutes=25), "c3"),  # joins v3
        ],
    )

    schema = "uid long, ts timestamp, tag string"
    views = (
        spark.readStream.schema(schema).parquet(views_dir)
        .withWatermark("ts", "1 hour")
        .select(F.col("uid").alias("v_uid"), F.col("ts").alias("v_ts"), F.col("tag").alias("view_tag"))
    )
    clicks = (
        spark.readStream.schema(schema).parquet(clicks_dir)
        .withWatermark("ts", "1 hour")
        .select(F.col("uid").alias("c_uid"), F.col("ts").alias("c_ts"), F.col("tag").alias("click_tag"))
    )
    joined = clicks.join(
        views,
        (F.col("c_uid") == F.col("v_uid"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    _run_to_completion(joined, "ss_join_t", "append")
    got = {
        (r.click_tag, r.view_tag)
        for r in spark.sql("SELECT click_tag, view_tag FROM ss_join_t").collect()
    }
    assert got == {("c1", "v1"), ("c3", "v3")}


def test_incremental_upsert_sink(spark, tmp_path):
    """foreachBatch MERGE emulation: two micro-batches upsert into a
    parquet serving table; the final table is newest-row-per-key
    across both batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark.streaming import incremental_upsert_sink

    stream_dir = tmp_path / "upsert_src"
    stream_dir.mkdir()
    serve = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "uid": pa.array([r[0] for r in rows], pa.int64()),
                    "total": pa.array([r[1] for r in rows], pa.float64()),
                    "seq": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            str(stream_dir / name),
        )

    drop("b1.parquet", [(1, 10.0, 1), (2, 20.0, 1), (2, 21.0, 2)])
    stream = (
        spark.readStream.schema("uid long, total double, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = incremental_upsert_sink(stream, serve, ["uid"], "seq", ckpt)
    try:
        q.processAllAvailable()
        got1 = {r.uid: r.total for r in spark.read.parquet(serve).collect()}
        assert got1 == {1: 10.0, 2: 21.0}  # within-batch latest wins
        drop("b2.parquet", [(2, 22.0, 3), (3, 30.0, 1)])
        q.processAllAvailable()
    finally:
        q.stop()
    got2 = {r.uid: r.total for r in spark.read.parquet(serve).collect()}
    assert got2 == {1: 10.0, 2: 22.0, 3: 30.0}


def test_stream_llm_map_pipeline(spark, sf_dir, tmp_path):
    """The reference's declared drawback is 'Can Not Streaming E2E'
    (README.md:96-97) — this engine runs the SAME instr_fanout_map
    stage on a readStream source: documents stream in, the echo-LLM
    map fans out per instruction, results land in a sink, and the
    output equals the batch run row-for-row."""
    import os as _os

    from instructions_mr_spark.config import LlmConfig
    from instructions_mr_spark.operators.llm_map import instr_fanout_map
    from instructions_mr_spark.queries.llm_pipeline import _MAP_STAGE

    src = _os.path.join(sf_dir, "documents.parquet")
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    _os.symlink(src, stream_dir / "part-0.parquet")
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).format("parquet").load(str(stream_dir))
    mapped = instr_fanout_map(stream, _MAP_STAGE, LlmConfig(), keep_cols=["doc_id"])
    assert mapped.isStreaming

    _run_to_completion(mapped, "llm_stream", "append")
    got = {
        r.doc_id: (r.summary, r.keywords)
        for r in spark.sql("SELECT * FROM llm_stream").collect()
    }
    want = {
        r.doc_id: (r.summary, r.keywords)
        for r in instr_fanout_map(
            spark.read.parquet(src), _MAP_STAGE, LlmConfig(), keep_cols=["doc_id"]
        ).collect()
    }
    assert got == want and len(got) > 0


def test_python_streaming_datasource(spark, tmp_path):
    """Custom Python STREAMING data source (SimpleDataSourceStreamReader):
    micro-batches with replayable offset ranges must deliver exactly
    the batch-source rows once the stream drains."""
    from instructions_mr_spark.sources.pysource import register, synth_row

    register(spark)
    stream = (
        spark.readStream.format("imr_synth_stream")
        .option("n_rows", 90)
        .option("batch_rows", 40)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("pysrc_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r.id: (r.digest, r.lang)
        for r in spark.sql("SELECT * FROM pysrc_stream_t").collect()
    }
    assert sorted(rows) == list(range(90))
    for i in (0, 41, 89):
        _, digest, lang = synth_row(i)
        assert rows[i] == (digest, lang)


def test_incremental_upsert_survives_restart(spark, tmp_path):
    """Checkpoint recovery: stop the upsert query, start a NEW query
    on the same checkpoint, feed another batch — the serving table
    must reflect all batches exactly once (no replay duplication, no
    loss)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark.streaming import incremental_upsert_sink

    stream_dir = tmp_path / "restart_src"
    stream_dir.mkdir()
    serve = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "uid": pa.array([r[0] for r in rows], pa.int64()),
                    "total": pa.array([r[1] for r in rows], pa.float64()),
                    "seq": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            str(stream_dir / name),
        )

    def start():
        stream = (
            spark.readStream.schema("uid long, total double, seq long")
            .parquet(str(stream_dir))
        )
        return incremental_upsert_sink(stream, serve, ["uid"], "seq", ckpt)

    drop("b1.parquet", [(1, 10.0, 1), (2, 20.0, 1)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    drop("b2.parquet", [(2, 22.0, 2), (3, 30.0, 1)])
    q2 = start()  # fresh query object, same checkpoint
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r.uid: r.total for r in spark.read.parquet(serve).collect()}
    assert got == {1: 10.0, 2: 22.0, 3: 30.0}


def test_stream_static_dimension_join(spark, events_stream, sf_dir):
    """Stream-static join: the streaming fact joins a STATIC dimension
    (per-user tier derived from customer) without watermarks — the
    static side is re-read per micro-batch.  Result must equal the
    batch join."""
    static_dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream, batch = events_stream
    joined = (
        stream.join(static_dim, "user_id")
        .groupBy("segment")
        .agg(F.count("*").alias("n"))
    )
    _run_to_completion(joined, "ss_dim_t", "complete")
    got = {r.segment: r.n for r in spark.sql("SELECT * FROM ss_dim_t").collect()}
    want = {
        r.segment: r.n
        for r in batch.join(static_dim, "user_id")
        .groupBy("segment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_anomaly_detection_e2e(spark, events_stream, sf_dir):
    """The anomaly monitor as a REAL stream: windowed counts computed
    under readStream + watermark, anomaly-flagged in foreachBatch
    against the broadcast per-type stats table (the deployment shape:
    stats trained on history, stream scored per trigger).  Flags must
    equal the batch twin's for every (window, type)."""
    from instructions_mr_spark import registry

    stream, batch = events_stream
    # "historical" per-type stats from the batch side (integer moments)
    counts = batch.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )

    flagged_rows: list = []

    def score_batch(bdf, _epoch):
        j = bdf.join(F.broadcast(stats), "event_type").filter(F.col("n_w") > 1)
        z = (
            (F.col("n") - F.col("s1").cast("double") / F.col("n_w"))
            / F.sqrt(
                (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_w"))
                / (F.col("n_w") - 1)
            )
        )
        flagged_rows.extend(
            j.select(
                F.col("window").getField("start").alias("ws"),
                "event_type",
                (F.abs(F.round(z, 6)) >= 2.0).alias("anomalous"),
            ).collect()
        )

    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(score_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.ws, r.event_type): r.anomalous for r in flagged_rows}
    want = {
        (r.window_start, r.event_type): r.anomalous
        for r in registry.QUERIES["stream_anomaly_zscore"](spark, sf_dir)
        .withColumn("window_start", F.col("window_start").cast("timestamp"))
        .collect()
    }
    # stream side only emits windows closed by the watermark; every
    # emitted flag must match the batch twin, and most windows close
    assert got, "stream produced no scored windows"
    mismatched = {k for k in got if k in want and got[k] != want[k]}
    assert not mismatched, mismatched
    assert len(got) >= len(want) * 0.5


def test_stream_url_dedup(spark, sf_dir, tmp_path_factory):
    """Streaming twin of url_dedup: URL canonicalization is a pure
    Column projection, so it runs unchanged inside a stream; watermark
    + dropDuplicates on the 60-bit URL digest bounds the dedup state.
    Emitted first-seen count must equal the batch distinct-URL count."""
    import os

    from instructions_mr_spark.operators.urls import normalize_url
    from instructions_mr_spark.functions import spark_hash
    from instructions_mr_spark.queries.web import _URL_SYNTH

    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    stream_dir = tmp_path_factory.mktemp("docs_stream")
    os.symlink(
        os.path.join(sf_dir, "documents.parquet"), stream_dir / "part-0.parquet"
    )
    stream = (
        spark.readStream.schema(raw.schema).format("parquet")
        .load(str(stream_dir))
    )

    def canonical(df):
        return (
            df.select(
                "doc_id",
                F.expr(f"({_URL_SYNTH})").alias("url"),
                # base offset keeps every synthetic instant strictly
                # above the initial zero watermark (a ts == epoch-0 row
                # is treated as late and silently dropped)
                F.expr(
                    "timestamp_micros(CAST((doc_id + 7200) * 1000000 AS BIGINT))"
                ).alias("ts"),
            )
            .select(
                "doc_id",
                "ts",
                normalize_url("url").alias("norm_url"),
            )
            .select(
                "doc_id", "ts", F.expr(spark_hash("norm_url", 17, hex_digits=15)).alias("url_h")
            )
        )

    dedup = (
        canonical(stream)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["url_h"])
    )
    _run_to_completion(dedup, "stream_url_dedup_t", "append")
    got = spark.sql("SELECT count(*) AS n FROM stream_url_dedup_t").collect()[0].n
    batch_distinct = canonical(raw).select("url_h").distinct().count()
    assert got == batch_distinct > 0


def test_stream_topic_assign(spark, sf_dir, tmp_path_factory):
    """Streaming twin of topic_seed_assign's tagging stage: the seed
    lexicon is a broadcast static-dimension join inside the stream
    (no state), and the per-topic hit counts aggregate in complete
    mode.  Totals must equal the batch hit counts."""
    import os

    from instructions_mr_spark.queries.text import _TOPIC_SEEDS

    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    stream_dir = tmp_path_factory.mktemp("docs_topic_stream")
    os.symlink(
        os.path.join(sf_dir, "documents.parquet"), stream_dir / "part-0.parquet"
    )
    stream = (
        spark.readStream.schema(raw.schema).format("parquet").load(str(stream_dir))
    )
    seeds = spark.createDataFrame(_TOPIC_SEEDS, "topic string, kw string")

    def hits(df):
        toks = df.select(F.explode(F.split("text", " ")).alias("word"))
        return (
            toks.join(F.broadcast(seeds), toks.word == seeds.kw)
            .groupBy("topic")
            .agg(F.count("*").alias("n_hits"))
        )

    _run_to_completion(hits(stream), "stream_topic_t", "complete")
    got = {
        r.topic: r.n_hits
        for r in spark.sql("SELECT * FROM stream_topic_t").collect()
    }
    want = {r.topic: r.n_hits for r in hits(raw).collect()}
    assert got == want and sum(got.values()) > 0


def test_stream_quantile_bins_histogram_matches_batch(spark, events_stream, sf_dir):
    """The windowed quantile sketch's state — per (window, bin)
    counts — is a plain additive aggregate, so it runs under
    readStream + watermark unchanged; every emitted (window, bin)
    count must equal the batch histogram, and the downstream quantile
    read over the emitted state must match the registered batch twin
    for those windows."""
    from instructions_mr_spark.queries.streaming_batch import _SQB_WIDTH

    stream, batch = events_stream
    bin_expr = F.expr(f"CAST(FLOOR(value * 100 + 0.5) AS BIGINT) div {_SQB_WIDTH}")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), bin_expr.alias("bin"))
        .agg(F.count("*").alias("c"))
    )
    _run_to_completion(agg, "stream_qbins_t", "append")
    got = {
        (r["window"]["start"], r["bin"]): r["c"]
        for r in spark.sql("SELECT * FROM stream_qbins_t").collect()
    }
    expected = {
        (r["window"]["start"], r["bin"]): r["c"]
        for r in batch.groupBy(F.window("ts", "1 hour"), bin_expr.alias("bin"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got
    for k, v in got.items():
        assert expected[k] == v
    # downstream quantile read over the emitted state: p50 bin of each
    # fully-emitted window equals the batch twin's answer
    from instructions_mr_spark import registry as _reg

    emitted_windows = {w for (w, _) in got}
    full = [
        w for w in emitted_windows
        if sum(1 for (w2, _) in expected if w2 == w)
        == sum(1 for (w2, _) in got if w2 == w)
    ]
    twin = {
        r.window_start: r.p50_lo_cents
        for r in _reg.QUERIES["stream_quantile_bins"](spark, sf_dir).collect()
    }
    assert full, "watermark emitted no complete window"
    for w in full:
        rows = sorted((b, c) for (w2, b), c in got.items() if w2 == w)
        n = sum(c for _, c in rows)
        cum = 0
        p50 = None
        for b, c in rows:
            cum += c
            if 100 * cum >= 50 * n and p50 is None:
                p50 = b * _SQB_WIDTH
        assert twin[w] == p50


def test_stream_topk_types_matches_batch(spark, events_stream, sf_dir):
    """The windowed leaderboard's state — per (window, type) counts —
    is a plain additive aggregate, so it runs under readStream +
    watermark unchanged; the top-3 cut over the emitted state must
    match the registered batch twin for every fully-emitted window."""
    stream, batch = events_stream
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    _run_to_completion(agg, "stream_topk_t", "append")
    got = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM stream_topk_t").collect()
    }
    expected = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got
    for k, v in got.items():
        assert expected[k] == v
    from instructions_mr_spark import registry as _reg

    emitted_windows = {w for (w, _) in got}
    full = [
        w for w in emitted_windows
        if sum(1 for (w2, _) in expected if w2 == w)
        == sum(1 for (w2, _) in got if w2 == w)
    ]
    assert full, "watermark emitted no complete window"
    twin = {}
    for r in _reg.QUERIES["stream_topk_types"](spark, sf_dir).collect():
        twin.setdefault(r.window_start, []).append((r.rnk, r.event_type, r.n))
    for w in full:
        rows = sorted(
            ((w2, t2), c) for (w2, t2), c in got.items() if w2 == w
        )
        ranked = sorted(
            ((c, t2) for (_, t2), c in rows), key=lambda x: (-x[0], x[1])
        )[:3]
        want = [(i + 1, t2, c) for i, (c, t2) in enumerate(ranked)]
        assert sorted(twin[w]) == sorted(want)


def test_trigger_available_now_terminates_and_matches_batch(spark, events_stream):
    """Trigger.AvailableNow: the incremental-backfill pattern — the
    query drains every file already in the source, commits, and STOPS
    ON ITS OWN (no processAllAvailable/stop choreography).  Counts
    must equal the batch twin exactly; termination must happen within
    the timeout (a hung availableNow run means the trigger fell back
    to continuous processing)."""
    stream, batch = events_stream
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("avail_now_t")
        .trigger(availableNow=True)
        .start()
    )
    terminated = q.awaitTermination(timeout=120)
    assert terminated, "availableNow query did not self-terminate"
    got = {
        r["event_type"]: r["n"]
        for r in spark.sql("SELECT * FROM avail_now_t").collect()
    }
    expected = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Kill-and-resume exactly-once: a file-source query with a
    checkpoint processes two files, stops, two MORE files land, a NEW
    query object resumes from the same checkpoint — the sink must
    hold every input row exactly once (offsets came from the
    checkpoint log, not from re-reading the source from scratch)."""
    import glob

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(i):
        spark.createDataFrame(
            [(i * 10 + j, f"u{j}") for j in range(5)], "id long, u string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    write_batch(0)
    write_batch(1)
    schema = spark.read.parquet(str(src)).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    assert q.awaitTermination(timeout=120)
    n_first = spark.read.parquet(str(sink)).count()
    assert n_first == 10
    write_batch(2)
    write_batch(3)
    q2 = start()  # resume from checkpoint — a fresh query object
    assert q2.awaitTermination(timeout=120)
    out = spark.read.parquet(str(sink))
    assert out.count() == 20              # no re-emission of files 0-1
    assert out.select("id").distinct().count() == 20  # and no dupes
