"""Custom stateful streaming operators — SURVEY.md §2.9 ST4.

The reference folds per-event increments into per-entity feature rows
(kafka_consumer.py:279-331: ``clicks_5min +=``, ``session_depth``). Built-in
windowed aggregation covers the counters (pipeline.py); what it can NOT
express is arbitrary running state like session depth — that's
``applyInPandasWithState``: per-key state dict carried across micro-batches.

TTL uses an EVENT-TIME timeout against the stream's watermark, not a
processing-time timer: (a) it replays deterministically (same input ⇒ same
evictions — the reference's wall-clock TTL does not, SURVEY ST6), and (b) a
processing-time timer forces the engine to re-trigger empty micro-batches
forever to check expiry (``shouldRunAnotherBatch`` is always true), so a
drain-and-stop run (``Trigger.AvailableNow``) never terminates. With
event-time timeouts a batch runs only when the watermark moves.

Works near-identically on a batch frame via ``applyInPandas`` (the state
closure degenerates to one call per key) — that batch twin is what the
oracle-style tests check.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, session_depth long, last_ts timestamp"
STATE_SCHEMA = "n_events long, session_depth long, last_ts double"


def session_depth_stream(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    ttl_seconds: float = 86400.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST4/ST5: per-user running event count + session depth; state evicted
    once the watermark passes ``last event + ttl`` (event-time TTL)."""

    def update(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n0, d0, t0 = state.get if state.exists else (0, 0, None)
        last = None if t0 is None or t0 != t0 else t0  # NaN-safe
        n, d, lt = 0, 0, last
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for t in pdf["ts"]:
                ts = t.timestamp()
                if lt is None or ts - lt > gap_seconds:
                    d += 1
                lt = ts
                n += 1
        n_total, d_total = n0 + n, d0 + d
        state.update((n_total, d_total, lt if lt is not None else float("nan")))
        if lt is not None:
            expiry_ms = int((lt + ttl_seconds) * 1000)
            # must be beyond the current watermark or Spark rejects it
            state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_total],
                "session_depth": [d_total],
                "last_ts": [pd.Timestamp(int(lt * 1_000_000), unit="us", tz="UTC") if lt is not None else pd.NaT],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.EventTimeTimeout
        )
    )


def session_depth_batch(events: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Batch twin with identical fold semantics (for parity checks)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        n, d, lt = 0, 0, None
        for t in pdf["ts"]:
            ts = t.timestamp()
            if lt is None or ts - lt > gap_seconds:
                d += 1
            lt = ts
            n += 1
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [n],
                "session_depth": [d],
                "last_ts": [pd.Timestamp(int(lt * 1_000_000), unit="us", tz="UTC")],
            }
        )

    return events.groupBy("user_id").applyInPandas(fold, OUTPUT_SCHEMA)

