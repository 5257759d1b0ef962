"""Custom stateful streaming operators via applyInPandasWithState.

These cover the semantics Spark's built-in streaming operators can't express
(SURVEY.md §2B "UDF surface" row; the reference has no analog — its
"state" is the resumed offset file, KafkaInputFormat.java:471-501):

- running_user_stats: per-key running aggregates that EMIT on every
  micro-batch (dashboards want the running value; a plain streaming groupBy
  in update mode only emits keys touched in the batch, with no way to attach
  custom transition logic).
- funnel_detect: A→B conversion detection within a horizon — per-key ordered
  pattern matching with carried state, the classic case for a custom
  transition function.

Scale posture: state is one small fixed-width row per key — O(active keys),
not O(events) — and long-running deployments pass ``ttl_minutes`` to expire
idle keys via ProcessingTimeTimeout.  Timeouts default OFF because an
availableNow drain with unexpired timeout state keeps scheduling no-data
batches and never terminates.  Arrow moves each group's batch as columnar
data; the Python transition touches pandas frames, never per-row pickles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
RUNNING_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def running_user_stats(events: DataFrame, ttl_minutes: int | None = None) -> DataFrame:
    """Per-user running (count, sum(value)) across micro-batches.

    Emits the post-batch running totals for every user seen in the batch.
    ``ttl_minutes`` expires idle users' state (bounded state for ever-running
    production streams).  Default is NO timeout: with ProcessingTimeTimeout
    set and state that never expires, an availableNow drain keeps scheduling
    no-data batches to re-check timeouts and never terminates — so timeouts
    are opt-in for long-running queries only.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_minutes else GroupStateTimeout.NoTimeout
    )

    def transition(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if ttl_minutes:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            transition,
            outputStructType=RUNNING_OUTPUT,
            stateStructType=RUNNING_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def final_running_stats(drained: DataFrame) -> DataFrame:
    """Reduce an update-mode drain of :func:`running_user_stats` to the FINAL
    emission per user.  The sink holds one row per (user, batch-that-touched-
    it); the running count grows monotonically, so max_by(n_events) picks the
    last batch's row — making the result equal to the batch group-by for ANY
    micro-batch split, not just single-batch drains."""
    import pyspark.sql.functions as F

    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


FUNNEL_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_ms", T.LongType()),
        T.StructField("converted_ms", T.LongType()),
        T.StructField("gap_ms", T.LongType()),
    ]
)
FUNNEL_STATE = T.StructType([T.StructField("pending_ms", T.LongType())])


def funnel_detect(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    horizon_ms: int = 3_600_000,
    ttl_minutes: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Emit one row per (first_type → then_type) conversion within
    ``horizon_ms``, per user.  State carries the earliest unconverted
    ``first_type`` timestamp; events inside each batch are processed in
    event-time order, so output is deterministic for a given batch split.

    Expects columns: user_id, event_type, ms (event-time epoch millis).
    ``tiebreak``: optional column (e.g. an event id) that totals the
    per-user order when two events share the same ms — without it, a click
    and purchase on the same millisecond order nondeterministically and a
    hash-checked oracle replay can flap (ADVICE r4).  Ties still possible
    ACROSS micro-batches are resolved by arrival order (batch order is the
    stream's contract).  ``ttl_minutes`` None => NoTimeout (see
    running_user_stats note on availableNow drains).
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_minutes else GroupStateTimeout.NoTimeout
    )
    sort_cols = ["ms", tiebreak] if tiebreak else ["ms"]
    in_cols = ["user_id", "event_type", "ms"] + ([tiebreak] if tiebreak else [])

    def transition(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        pending = state.get[0] if state.exists else None
        out: list[tuple[int, int]] = []
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = pd.concat(frames, ignore_index=True).sort_values(sort_cols, kind="stable")
        for etype, ms in zip(batch["event_type"], batch["ms"]):
            ms = int(ms)
            if etype == first_type:
                if pending is None:
                    pending = ms
            elif etype == then_type and pending is not None:
                if ms - pending <= horizon_ms:
                    out.append((pending, ms))
                pending = None
        if pending is None:
            state.remove()
        else:
            state.update((pending,))
            if ttl_minutes:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "first_ms": [a for a, _ in out],
                    "converted_ms": [b for _, b in out],
                    "gap_ms": [b - a for a, b in out],
                }
            )

    return (
        events.select(*in_cols)
        .groupBy("user_id")
        .applyInPandasWithState(
            transition,
            outputStructType=FUNNEL_OUTPUT,
            stateStructType=FUNNEL_STATE,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4.x StatefulProcessor API)
# ---------------------------------------------------------------------------

try:  # pragma: no cover - import shape varies across minor versions
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    TWS_AVAILABLE = True
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]
    TWS_AVAILABLE = False

TYPE_STATS_OUTPUT = (
    "user_id BIGINT, event_type STRING, n_events BIGINT, "
    "total_value DOUBLE, max_value DOUBLE"
)


class RunningTypeStatsProcessor(StatefulProcessor):
    """Per-(user, event_type) running (count, sum, max) via the Spark 4
    ``transformWithStateInPandas`` StatefulProcessor API — the successor to
    applyInPandasWithState with typed, composable state (ValueState /
    ListState / MapState + timers).  State here is one ValueState row per
    key; ``ttl_ms`` demonstrates the built-in state TTL (expired state reads
    as absent — bounded state for ever-running streams, the engine evicts
    without user timers)."""

    def __init__(self, ttl_ms: int | None = None):
        self._ttl_ms = ttl_ms

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._stats = handle.getValueState(
            "stats", "cnt BIGINT, total DOUBLE, vmax DOUBLE", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(self, key, rows, timerValues):
        cnt, total, vmax = 0, 0.0, None
        if self._stats.exists():
            cnt, total, vmax = self._stats.get()
        for pdf in rows:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            m = float(pdf["value"].max())
            vmax = m if vmax is None else max(vmax, m)
        self._stats.update((cnt, total, vmax))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_events": [cnt],
                "total_value": [round(total, 2)],
                "max_value": [vmax],
            }
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """True when the transformWithState Python runtime can actually run:
    the API ships with pyspark 4.x but its state-server protocol needs
    ``google.protobuf`` on the worker Python path."""
    if not TWS_AVAILABLE:
        return False
    try:  # pragma: no cover - environment probe
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


TYPE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)
TYPE_STATS_STATE = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)


def _running_type_stats_fallback(events: DataFrame) -> DataFrame:
    """applyInPandasWithState twin of RunningTypeStatsProcessor — identical
    emissions (same state transition, same rounding), used when the
    transformWithState runtime is unavailable."""

    def transition(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        cnt, total, vmax = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            m = float(pdf["value"].max())
            vmax = m if vmax is None else max(vmax, m)
        state.update((cnt, total, vmax))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "n_events": [cnt],
                "total_value": [round(total, 2)],
                "max_value": [vmax],
            }
        )

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            transition,
            TYPE_STATS_SCHEMA,
            TYPE_STATS_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def running_type_stats(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming per-(user, event_type) running stats (update mode, no time
    semantics).  Prefers the Spark 4 transformWithState StatefulProcessor;
    when its Python runtime is missing (no protobuf), dispatches to the
    applyInPandasWithState twin with identical emissions."""
    if not tws_available():
        return _running_type_stats_fallback(events)
    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id", "event_type")
        .transformWithStateInPandas(
            statefulProcessor=RunningTypeStatsProcessor(ttl_ms),
            outputStructType=TYPE_STATS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def final_type_stats(drained: DataFrame) -> DataFrame:
    """Final emission per (user, event_type) from an update-mode drain —
    n_events grows monotonically, so max_by picks the last batch's row
    (exact under any micro-batch split, same contract as
    :func:`final_running_stats`)."""
    import pyspark.sql.functions as F

    return drained.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
        F.max_by("max_value", "n_events").alias("max_value"),
    )
