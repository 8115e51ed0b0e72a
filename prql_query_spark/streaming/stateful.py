"""Custom stateful streaming: per-user sessionization with explicit state.

`session_windows` (events.py) uses Spark's native session_window — that
covers gap-based sessions.  This module shows the general pattern for
operators whose state machine Spark has no built-in for:
`applyInPandasWithState` with one state row per key, processing-time
timeouts to flush idle keys, and Arrow-batched pandas on both sides.

At scale: state lives in the executor state store (RocksDB on a real
cluster), keyed by user — the shuffle is the same hash exchange a groupBy
would do; no driver involvement.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType, TimestampType,
)

from prql_query_spark.streaming.microbatch import file_stream

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
    StructField("session_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])


def make_sessionizer(gap_seconds: int, timeout_ms: int | None = 30_000):
    """Returns the (key, pdf_iter, state) function for
    applyInPandasWithState: closes a session when the gap between
    consecutive events of a user exceeds ``gap_seconds``; a processing-time
    timeout flushes the trailing open session of idle users.
    ``timeout_ms=None`` = no timeout registration (pair with
    GroupStateTimeout.NoTimeout): sessions close on gap evidence only —
    the deterministic drive-to-completion shape, where a sentinel event
    per key supplies the closing evidence instead of the wall clock."""
    gap_us = gap_seconds * 1_000_000

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        closed: list[tuple[Any, ...]] = []
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, n, total = state.get
                closed.append((user_id, start_us, last_us, n, total))
                state.remove()
        else:
            if state.exists:
                start_us, last_us, n, total = state.get
            else:
                start_us = last_us = -1
                n, total = 0, 0.0
            for pdf in pdfs:
                pdf = pdf.sort_values("ts")
                for ts, value in zip(pdf["ts"], pdf["value"]):
                    ts_us = int(pd.Timestamp(ts).value // 1_000)
                    if start_us < 0:
                        start_us, last_us = ts_us, ts_us
                        n, total = 1, float(value)
                    elif ts_us - last_us > gap_us:
                        closed.append((user_id, start_us, last_us, n, total))
                        start_us, last_us = ts_us, ts_us
                        n, total = 1, float(value)
                    else:
                        last_us = ts_us
                        n += 1
                        total += float(value)
            if start_us >= 0:
                state.update((start_us, last_us, n, total))
                if timeout_ms is not None:
                    state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1] * 1_000) for c in closed],
                    "session_end": [pd.Timestamp(c[2] * 1_000) for c in closed],
                    "n_events": [c[3] for c in closed],
                    "session_value": [round(c[4], 4) for c in closed],
                }
            )

    return fn


def stream_user_sessions(
    spark,
    events_path: str,
    gap: str = "30 minutes",
    queryName: str = "pq_stream_sessions",
    timeout_ms: int | None = 30_000,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
):
    """Streaming sessionization over a file source; returns the started
    StreamingQuery writing closed sessions to a memory sink.

    The source is `microbatch.file_stream`, as for every stream here
    (ns-timestamp parquet, bare files); the stateful core is
    engine-agnostic — swap the source for Kafka and nothing else changes.
    ``max_files_per_trigger=1`` makes each pinned-mtime source file its
    own microbatch (the deterministic gate/test drive shape).
    ``available_now=True`` drives all pending files (still batched per
    max_files_per_trigger) then TERMINATES the query — the
    drive-to-completion shape.  Note processAllAvailable() never
    settles on this query under the default trigger: the
    processing-time timeout keeps scheduling state-cleanup
    microbatches (see test_stateful_stream_sessions_match_batch), so
    finite drivers must either poll (default trigger) or use this.
    """
    from pyspark.sql import functions as F

    gap_seconds = int(pd.Timedelta(gap).total_seconds())
    stream = file_stream(spark, events_path, max_files_per_trigger) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds, timeout_ms),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    writer = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_running_totals(
    spark,
    events_path: str,
    queryName: str = "pq_stream_totals",
):
    """Per-user running totals on the Spark 4 `transformWithStateInPandas`
    API (typed ValueState, RocksDB-backed) — the modern replacement for
    applyInPandasWithState used by the sessionizer above.

    Emits (user_id, n, total) in Update mode each microbatch; state is one
    fixed-size row per user, so it scales with |users|, not |events|.
    Totals accumulate in integer cents so replays/batch comparisons are
    exact.

    Requires the `protobuf` package (the transformWithState worker
    protocol is protobuf-based); raises a clear error when absent.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pip install protobuf); falling back to "
            "applyInPandasWithState (stream_user_sessions) covers the "
            "same stateful pattern without it"
        ) from exc

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    state_schema = StructType([
        StructField("n", LongType()), StructField("cents", LongType()),
    ])
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ])

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (self._state.get() or (0, 0))
            for pdf in rows:
                n += len(pdf)
                cents += int(round(float(pdf["value"].sum()) * 100))
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [cents / 100.0]}
            )

        def close(self) -> None:
            pass

    stream = file_stream(spark, events_path)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(), out_schema, "Update", "None"
        )
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
    )
