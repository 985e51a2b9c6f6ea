"""Structured Streaming surface (SURVEY.md §2.7 stream_*; M6).

The reference cannot stream at all (README.md:96-97 "Can Not
Streaming E2E"); this module holds the engine's stateful streaming
operators — sessionization with an event-time timeout, per-user stats
via applyInPandasWithState, a running max — and
its ``foreachBatch`` sinks, including an incremental MERGE emulation.
``session_funnel``'s batch twin,
queries/streaming_batch.stream_funnel_sessions, is its DuckDB-oracled
contract.

Scale notes: state is keyed by user so it partitions across
executors; watermarks bound state size; ``foreachBatch`` gives
exactly-once-per-epoch sinks for stores without a streaming writer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def foreach_batch_sink(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    mode: str = "update",
):
    """Exactly-once-per-epoch custom sink (e.g. MERGE into a store):
    Spark retries a failed epoch with the same epoch_id, so ``fn`` must
    be idempotent per epoch."""
    return (
        df.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(fn)
        .start()
    )


def session_funnel(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization + funnel detection via
    ``applyInPandasWithState`` with an EVENT-TIME TIMEOUT: per user,
    events within ``gap_minutes`` of each other form a session; a
    session CLOSES either when a later event arrives past the gap
    (emitted immediately) or when the watermark passes session_end
    (the timeout path — how real pipelines flush idle users without
    waiting for their next event).  Emits one row per closed session:
    (user_id, session_start, session_end=last_ts+gap, n_events,
    n_purchases, converted) where ``converted`` means a purchase
    happened after a view within the session — the classic funnel.

    The batch twin (same numbers, minus the still-open tail sessions)
    is queries/streaming_batch.stream_funnel_sessions, which is the
    DuckDB-oracled contract for these semantics.

    Scale: state is one open session per user key, partitioned across
    executors by user hash; the watermark bounds how long an idle
    session can hold state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_purchases", T.LongType()),
            T.StructField("converted", T.BooleanType()),
        ]
    )
    # epoch-micros longs in state: exact, arrow-friendly
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_purchases", T.LongType()),
            T.StructField("seen_view", T.BooleanType()),
            T.StructField("converted", T.BooleanType()),
        ]
    )

    def _row(uid: int, st: tuple) -> dict:
        start_us, last_us, n, np_, _sv, conv = st
        return {
            "user_id": uid,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us + gap_us, unit="us"),
            "n_events": n,
            "n_purchases": np_,
            "converted": conv,
        }

    def update(key, pdfs, state: GroupState):
        uid = key[0]
        closed: list[dict] = []
        if state.hasTimedOut:
            closed.append(_row(uid, state.get))
            state.remove()
            yield pd.DataFrame(closed)
            return
        cur = list(state.get) if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for ts, etype in zip(batch["ts"], batch["event_type"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if cur is not None and ts_us - cur[1] > gap_us:
                closed.append(_row(uid, tuple(cur)))
                cur = None
            if cur is None:
                cur = [ts_us, ts_us, 0, 0, False, False]
            cur[1] = ts_us
            cur[2] += 1
            if etype == "purchase":
                cur[3] += 1
                if cur[4]:
                    cur[5] = True
            elif etype == "view":
                cur[4] = True
        state.update(tuple(cur))
        # flush the open session once the watermark passes its end
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        yield pd.DataFrame(closed) if closed else pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in out_schema.fields}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def incremental_upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint: str,
):
    """Streaming MERGE INTO emulation over plain parquet: every
    micro-batch upserts its newest-row-per-key into a serving table
    (foreachBatch -> latest_version -> merge_upsert -> staging-swap
    write).  With Delta/Iceberg on the classpath the body becomes one
    MERGE INTO statement; the logical content is identical.

    Epoch idempotency (Spark replays a failed epoch with the same
    data): last-write-wins upsert of the same rows is a no-op, so a
    replay converges to the same table.

    The staging swap (write to ``path + '.staging'`` then rename) is
    atomic on local/HDFS renames; object stores want a manifest or a
    table format instead — the 100 TB deployment uses Delta/Iceberg
    MERGE where this whole function collapses to one statement."""
    import os
    import shutil

    from instructions_mr_spark.operators.merge import latest_version, merge_upsert

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = latest_version(batch_df, keys, order_col)
        if os.path.isdir(path):
            target = spark.read.parquet(path)
            out = merge_upsert(
                target, latest.select(*[f.name for f in target.schema.fields]), keys
            )
        else:
            out = latest
        staging = path + ".staging"
        out.write.mode("overwrite").parquet(staging)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(staging, path)

    return foreach_batch_sink(stream_df, fn, checkpoint, mode="append")


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Running per-user event/purchase counters via
    ``applyInPandasWithState`` (default HDFS-backed state store).
    Emits the updated totals for every user touched by a micro-batch;
    the final emission per user equals the batch groupBy aggregate
    (tests/test_streaming.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_purchases", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("np", T.LongType()),
        ]
    )

    def update(key, pdfs, state):
        n = np_ = 0
        if state.exists:
            n, np_ = state.get
        for pdf in pdfs:
            n += len(pdf)
            np_ += int((pdf["event_type"] == "purchase").sum())
        state.update((n, np_))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_purchases": [np_]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_max_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    max(value) + event count per user, emitted per micro-batch.

    Demonstrates arbitrary keyed state where built-in windows don't
    fit (the reference's multi-turn transcript state is the batch
    analogue — operators/selfverify.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("max_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        mx, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += len(pdf)
        state.update((mx, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "max_value": [mx], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
