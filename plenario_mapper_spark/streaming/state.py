"""Stateful streaming operators over applyInPandasWithState.

Per-key event-time rate limiting (`throttle_stream`) and timer-closed
sessionization (`session_finalizer`, with its batch twin
`closed_sessions_batch`), each holding its per-key state in a fault-tolerant,
checkpointed state store that survives restarts.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

THROTTLE_OUTPUT_SCHEMA = (
    "key string, seq long, passed boolean, n_in_window long, window_start long"
)
THROTTLE_STATE_SCHEMA = "window_start long, n_in_window long"


def _throttle_key_events(limit: int, window_seconds: int):
    """Build the per-key fold for throttle_stream (closure over the config)."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        win_start, n = state.get if state.exists else (None, 0)
        out = []
        for pdf in pdfs:
            for row in pdf.sort_values(["event_sec", "seq"]).itertuples():
                w = (row.event_sec // window_seconds) * window_seconds
                if win_start is None or w > win_start:
                    win_start, n = w, 0
                # a late event from an already-closed window counts against
                # the CURRENT window (state only moves forward — reopening
                # closed windows would need unbounded history)
                n += 1
                out.append((k, row.seq, n <= limit, n, win_start))
        state.update((win_start, n))
        yield pd.DataFrame(
            out,
            columns=["key", "seq", "passed", "n_in_window", "window_start"],
        )

    return fold


def throttle_stream(
    events: DataFrame,
    limit: int,
    window_seconds: int,
    key_col: str = "key",
) -> DataFrame:
    """Per-key rate limiting as durable keyed state — the alert-storm /
    abusive-producer guard every ingest front door needs (the reference
    throttles nothing: a flapping sensor POSTs an alert per record until
    blacklisted; this generalizes the blacklist to a budget per time
    window). Each event is tagged `passed` = whether its key has emitted
    fewer than `limit` events in the event-time window containing it;
    callers route passed/suppressed like the mapper's clean/misfit split.

    Deterministic: events fold in (event_sec, seq) order within each
    micro-batch, so replay yields identical verdicts (checkpoint-safe —
    the same at-least-once replay contract as the alert state machine).
    State is two longs per key, sharded by the state store on the same
    key the stream already shuffles on. Input rows: (key, seq, event_sec
    — event-time seconds, any monotone integer clock)."""
    return events.groupBy(key_col).applyInPandasWithState(
        _throttle_key_events(limit, window_seconds),
        outputStructType=THROTTLE_OUTPUT_SCHEMA,
        stateStructType=THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start long, session_end long, n_events long"
)
SESSION_STATE_SCHEMA = "session_start long, session_end long, n_events long"


def _close_sessions(gap_seconds: int):
    """Per-key fold for session_finalizer: extend the open session with each
    event; emit it CLOSED when the event-time watermark passes its gap
    horizon (the timeout callback — an empty batch iterator with
    state.hasTimedOut) or when a new event arrives beyond the gap."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        out = []
        if state.hasTimedOut:
            s0, s1, n = state.get
            out.append((user, s0, s1, n))
            state.remove()
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )
            return
        cur = state.get if state.exists else None
        for pdf in pdfs:
            for row in pdf.sort_values("event_sec").itertuples():
                t = int(row.event_sec)
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_seconds:
                    out.append((user, *cur))  # gap exceeded: close, open anew
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
        state.update(cur)
        # the session closes when the EVENT-TIME watermark passes last_seen +
        # gap: late events inside the gap can still extend it, and the
        # watermark delay is the lateness bound the caller already chose
        state.setTimeoutTimestamp((cur[1] + gap_seconds) * 1000)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return fold


def session_finalizer(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Sessionization that emits ONLY closed sessions, via event-time TIMERS —
    the push-based complement to F.session_window's pull-based aggregation
    (which re-emits a session's row every time it grows; downstream
    consumers that act once per session — billing, session-summary writes,
    the reference's resolve-style notifications — need the closed-session
    stream, not upserts). State = the open session triple per key; a
    session closes either inline (a new event beyond the gap) or by the
    state store's event-time timeout once the watermark passes
    last_seen + gap — so emission needs NO new event for the key, which is
    exactly what a timer gives and a groupBy cannot. Input rows:
    (user_id, event_sec, ts) with a watermark already applied to ts."""
    return events.groupBy("user_id").applyInPandasWithState(
        _close_sessions(gap_seconds),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def closed_sessions_batch(
    events: DataFrame, gap_seconds: int, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Batch twin of session_finalizer: the CLOSED-session set a full replay
    of `events` emits under a zero-delay watermark at end-of-input.

    A session is closed iff (a) a later session exists for the same key —
    the finalizer closed it INLINE when the first over-gap event arrived —
    or (b) its gap horizon lies strictly before the final watermark
    (session_end + gap < max event time over the whole input): the
    event-time TIMER fired. Same strict-> gap test and (ts, arrival) fold
    order as the stateful stream, so backfill == live row for row (parity
    pinned in tests/test_streaming.py).

    Arithmetic runs on unix MICROSECONDS (exact integers in both engines —
    no truncate-vs-round seam at fractional seconds). One shuffle on the
    key for sessionize + per-key max; the global max is a one-row broadcast
    (the q11 scalar-aggregate shape), so nothing corpus-sized recomputes."""
    from pyspark.sql import Window

    us = F.expr(f"unix_micros({ts_col})")
    gap_us = int(gap_seconds) * 1_000_000
    e = events.select(F.col(user_col).alias("user_id"), us.alias("_us"))
    wo = Window.partitionBy("user_id").orderBy("_us")
    flagged = e.withColumn(
        "_ns",
        F.when(
            F.lag("_us").over(wo).isNull()
            | ((F.col("_us") - F.lag("_us").over(wo)) > gap_us),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "_sid", F.sum("_ns").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    agg = sess.groupBy("user_id", "_sid").agg(
        F.min("_us").alias("_start_us"),
        F.max("_us").alias("_end_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    per_key_last = Window.partitionBy("user_id")
    gmax = events.agg(F.max(us).alias("_gmax_us"))
    return (
        agg.withColumn("_max_sid", F.max("_sid").over(per_key_last))
        .crossJoin(F.broadcast(gmax))
        .filter(
            (F.col("_sid") < F.col("_max_sid"))
            | (F.col("_end_us") + gap_us < F.col("_gmax_us"))
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("_start_us")).alias("session_start"),
            F.timestamp_micros(F.col("_end_us")).alias("session_end"),
            "n_events",
        )
    )
