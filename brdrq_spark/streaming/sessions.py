"""Custom stateful streaming operator: per-user session windows with an
event-time gap timeout, built on ``applyInPandasWithState``.

The batch equivalent is the ``sessionize_events`` driver query (lag +
cumsum gaps-and-islands); this is the streaming form a 100 TB event
pipeline needs: state is one (start, end, n) triple per user key, hash-
partitioned by user_id across executors, and sessions close via
event-time timeout once the watermark passes session_end + gap — no
driver-side state, no unbounded buffering. Late events inside the
watermark extend or reopen their session correctly because each trigger
re-merges arriving timestamps with the open-session state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.worker import drop_zip_finders

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_session_fn(gap_us: int):
    def update(key, pdf_iter, state):
        drop_zip_finders()
        user_id = key[0]
        cur = state.get if state.exists else None  # (start, end, n)
        closed = []
        ts_all = []
        for pdf in pdf_iter:
            if len(pdf):
                # coerce whatever precision Arrow delivered to micros
                ts_all.append(
                    pd.Series(pdf["ts"].to_numpy("datetime64[us]").astype("int64"))
                )
        if ts_all:
            ts = pd.concat(ts_all).sort_values().to_numpy()
            s, e, n = cur if cur is not None else (None, None, 0)
            for t in ts:
                t = int(t)
                if s is None:
                    s, e, n = t, t, 1
                elif t - e > gap_us:
                    closed.append((s, e, n))
                    s, e, n = t, t, 1
                else:
                    e = max(e, t)
                    n += 1
            cur = (s, e, n)
        if state.hasTimedOut:
            if cur is not None:
                closed.append(cur)
            state.remove()
        elif cur is not None:
            state.update(cur)
            # close once the event-time watermark passes end + gap (ms)
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start_us": s,
                        "session_end_us": e,
                        "n_events": n,
                    }
                    for s, e, n in closed
                ]
            )

    return update


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 600, watermark: str = "30 minutes"
) -> DataFrame:
    """events(ts timestamp-compatible, user_id long, ...) → one row per
    CLOSED session (a session closes when the watermark passes its end +
    gap). Works only on grouped streaming DataFrames — the batch mirror
    is the `sessionize_events` oracle query."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    ).withWatermark("ts", watermark)
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_seconds * 1_000_000),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
