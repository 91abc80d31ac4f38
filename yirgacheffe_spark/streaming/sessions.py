"""Custom stateful streaming operator: event-time sessionization.

The batch engine sessionizes with a LAG window (`q_events_sessionize`);
streams cannot look backwards, so this is the standard Structured-Streaming
reformulation: per-key state carried across micro-batches with
``applyInPandasWithState`` (Arrow-batched, no per-row Python), sessions
closed either by an in-batch gap or by the event-time watermark passing
``last_event + gap`` (state timeout).  Results are deterministic for a
deterministic feed order; late rows beyond the watermark are dropped by
Spark before the operator runs — the documented trade of streaming
sessionization.

Scale notes: state is O(active keys) and lives in the state store
(checkpointed, resumable); each micro-batch shuffles only its own rows by
key.  This is the shape that survives 10^12 events/day — no global sort,
no unbounded state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .._worker import task_entry

# State travels as epoch milliseconds (longs): timestamp columns in state
# structs are tz-fragile across restore.
_STATE_SCHEMA = "start_ms long, last_ms long, n_events long, total_value double"


def session_schema(events: DataFrame, key_col: str = "user_id") -> str:
    """Output schema for ``sessionize_stream`` — the key column keeps its
    source name AND type (a string/int key must not be silently relabelled
    ``user_id long``)."""
    key_type = dict(events.dtypes)[key_col]
    return (
        f"`{key_col}` {key_type}, session_start timestamp, "
        "session_end timestamp, n_events long, total_value double"
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Append-mode stream of CLOSED sessions per ``key_col``.

    Out-of-order events that are late but still inside the watermark are
    merged monotonically: an event older than the session's running max
    never rewinds ``last_ms`` (which would split the session spuriously and
    emit a ``session_end`` earlier than an already-counted event) — the gap
    test always runs against the running max event time, and such a late
    event can only widen ``session_start`` downwards.
    """
    gap_ms = gap_minutes * 60 * 1000

    def _emit(key_val, closed):
        return pd.DataFrame(
            {
                key_col: [key_val] * len(closed),
                "session_start": [pd.Timestamp(c[0], unit="ms") for c in closed],
                "session_end": [pd.Timestamp(c[1], unit="ms") for c in closed],
                "n_events": [c[2] for c in closed],
                "total_value": [c[3] for c in closed],
            }
        )

    @task_entry
    def assemble(key, pdf_iter, state: GroupState):
        (key_val,) = key
        if state.hasTimedOut:
            start_ms, last_ms, n, total = state.get
            state.remove()
            yield _emit(key_val, [(start_ms, last_ms, n, total)])
            return

        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(ts_col, kind="stable")
        ts_ms = (rows[ts_col].astype("int64") // 1_000_000).to_numpy()
        vals = rows[value_col].astype(float).to_numpy()

        if state.exists:
            start_ms, last_ms, n, total = state.get
        else:
            start_ms = last_ms = int(ts_ms[0])
            n, total = 0, 0.0

        closed = []
        for t, v in zip(ts_ms, vals):
            t = int(t)
            if n and t - last_ms > gap_ms:
                # Strictly beyond the running max + gap: a genuinely new
                # session (a late event can never land here since
                # t <= last_ms for it).
                closed.append((start_ms, last_ms, n, total))
                start_ms, last_ms, n, total = t, t, 0, 0.0
            if n == 0:
                start_ms = last_ms = t
            # Merge monotonically: last_ms never moves backwards; a late
            # in-session event may only extend the session's start earlier.
            start_ms = min(start_ms, t)
            last_ms = max(last_ms, t)
            n, total = n + 1, total + float(v)

        state.update((int(start_ms), int(last_ms), int(n), float(total)))
        # Close the open session once the watermark passes last + gap; the
        # timeout must sit strictly beyond the current watermark.
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ms + gap_ms, wm + 1))
        if closed:
            yield _emit(key_val, closed)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            assemble,
            session_schema(events, key_col),
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
