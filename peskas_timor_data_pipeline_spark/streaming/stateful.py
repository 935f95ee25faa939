"""Custom stateful streaming operators (applyInPandasWithState).

The batch engine sessionizes with window functions (operators.windows.
sessionize); on an unbounded stream the same gap-based semantics need
per-key state. This is the Structured-Streaming version of the
consecutive-trip merge (A6): per boat/user, events closer than ``gap`` to
the previous one extend the current session; a timeout or a larger gap
closes it and emits one session row.

State is one (session_start, last_seen, n_events, sum_value) tuple per
key — O(keys) memory, watermark-bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
STATE_SCHEMA = "start long, last long, n long, total double"


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-sessionization over a stream grouped by ``key_col``.

    Emits CLOSED sessions only: a session closes when a later event
    arrives past the gap, or when its group has seen no event for
    ``gap_seconds`` of PROCESSING time (``ProcessingTimeTimeout``, not a
    watermark). While a session is open the query keeps running no-data
    batches to check that timeout, so an ``availableNow`` trigger does
    not end by itself: the caller stops the query.
    """

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                    "sum_value": [total],
                }
            )
            return

        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        closed: list[tuple] = []
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for ts, val in zip(rows[ts_col], rows[value_col]):
            us = int(ts.value // 1000)  # pandas ns -> us
            if last is not None and us - last > gap_seconds * 1_000_000:
                closed.append((start, last, n, total))
                start, n, total = us, 0, 0.0
            if start is None:
                start = us
            last = us
            n += 1
            total += float(val)
        state.update((start, last, n, total))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _l, _n, _t in closed],
                    "session_end": [pd.Timestamp(l, unit="us") for _s, l, _n, _t in closed],
                    "n_events": [n for _s, _l, n, _t in closed],
                    "sum_value": [t for _s, _l, _n, t in closed],
                }
            )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
