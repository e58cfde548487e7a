"""Custom stateful CEP operator (SURVEY.md §2 B12).

The reference's whole engine is one resumable state machine over a byte
stream; the table-level generalization is a per-conversation state machine
over the turn stream: ``conversation_tracker`` keeps (turns_seen, last_ts,
last_role) per conv_id in the state store and enriches every turn with its
running position and inter-turn gap — the kind of custom CEP logic built-in
windows can't express (state survives across micro-batches and restarts via
the checkpoint).

Implemented with ``applyInPandasWithState`` (GroupState, Arrow-batched).
Timeouts evict idle conversations like the raw-buffer overflow policy evicts
stale partial matches (rtfproc.c:911-933).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRACKER_OUTPUT_DDL = (
    "conv_id string, turn_idx int, role string, ts timestamp, "
    "turns_seen long, secs_since_prev double, is_role_switch boolean"
)
TRACKER_STATE_DDL = "turns_seen long, last_ts timestamp, last_role string"


def _track(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState, timeout_ms: int | None = 30 * 60 * 1000
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        turns_seen, last_ts, last_role = state.get
    else:
        turns_seen, last_ts, last_role = 0, None, None
    # A group's rows may arrive split across several Arrow chunks within one
    # micro-batch; concatenate before sorting so the running state sees the
    # whole batch in global (ts, turn_idx) order.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    outs = []
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "turn_idx"])
        rows = []
        for r in pdf.itertuples(index=False):
            turns_seen += 1
            gap = (
                (r.ts - last_ts).total_seconds() if last_ts is not None else None
            )
            rows.append(
                (
                    conv_id,
                    r.turn_idx,
                    r.role,
                    r.ts,
                    turns_seen,
                    gap,
                    last_role is not None and r.role != last_role,
                )
            )
            last_ts, last_role = r.ts, r.role
        outs.append(
            pd.DataFrame(
                rows,
                columns=[
                    "conv_id",
                    "turn_idx",
                    "role",
                    "ts",
                    "turns_seen",
                    "secs_since_prev",
                    "is_role_switch",
                ],
            )
        )
    state.update((turns_seen, last_ts, last_role))
    if timeout_ms is not None:
        state.setTimeoutDuration(timeout_ms)  # idle-conversation eviction
    for out in outs:
        yield out


def conversation_tracker(
    stream: DataFrame,
    watermark: str = "10 minutes",
    idle_timeout_ms: int | None = 30 * 60 * 1000,
) -> DataFrame:
    """Stateful per-conversation enrichment over a (possibly streaming)
    transcripts DataFrame. On a batch DataFrame, applyInPandas-compatible
    semantics are emulated by the same function run per group (see
    conversation_tracker_batch).

    ``idle_timeout_ms=None`` disables the processing-time idle eviction —
    required for bounded availableNow replays, where pending timers would
    keep the query alive spinning empty micro-batches until the timers fire
    (continuous production jobs keep the default eviction)."""
    import functools

    if idle_timeout_ms is not None and idle_timeout_ms <= 0:
        raise ValueError(
            f"idle_timeout_ms must be a positive number of milliseconds, "
            f"got {idle_timeout_ms}"
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    fn = functools.partial(_track, timeout_ms=idle_timeout_ms)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=TRACKER_OUTPUT_DDL,
            stateStructType=TRACKER_STATE_DDL,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )


def conversation_tracker_batch(df: DataFrame) -> DataFrame:
    """Batch oracle for the tracker: same per-conversation enrichment via
    window functions (no state store needed when all data is present)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.row_number().over(w).cast("long").alias("turns_seen"),
        (
            F.col("ts").cast("timestamp").cast("double")
            - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
        ).alias("secs_since_prev"),
        F.coalesce(
            F.lag("role").over(w) != F.col("role"), F.lit(False)
        ).alias("is_role_switch"),
    )
