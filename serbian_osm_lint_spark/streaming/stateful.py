# -*- coding: utf-8 -*-
"""Custom stateful streaming operator: cross-batch sessionization via
``applyInPandasWithState``.

The batch face (``operators/events.sessionize_df``) needs the whole
history; the streaming face keeps exactly the state a 100 TB event stream
needs per user — (last event epoch, session count, event count) — and
keeps counting sessions across micro-batches. State schema and the
pandas-batched update function are the pattern for any custom stateful
operator the engine grows later (SURVEY §2.10 UDx surface).
"""

from __future__ import annotations

import os

import pandas as pd

from ..operators.events import SESSION_GAP_SEC
from .stream import _run_available_now, arrivals

OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long"
STATE_SCHEMA = "last_epoch long, n_sessions long, n_events long"


def _update_user(key, pdf_iter, state):
    """Per-user state update: replay this batch's events in time order,
    opening a session whenever the gap from the previous event exceeds
    the threshold (matching operators/events.sessionize_df exactly)."""
    (user_id,) = key
    if state.exists:
        last_epoch, n_sessions, n_events = state.get
    else:
        last_epoch, n_sessions, n_events = None, 0, 0
    # materialize ALL Arrow chunks before sorting: a user whose batch rows
    # span multiple chunks must be replayed in global time order, or the
    # session count diverges from the batch sessionize_df (round-1 ADVICE).
    chunks = list(pdf_iter)
    if chunks:
        pdf = pd.concat(chunks).sort_values(["epoch", "event_id"])
        for e in pdf["epoch"]:
            e = int(e)
            if last_epoch is None or e - last_epoch > SESSION_GAP_SEC:
                n_sessions += 1
            last_epoch = e
            n_events += 1
    state.update((last_epoch, n_sessions, n_events))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_sessions": n_sessions, "n_events": n_events}]
    )


def stream_sessionize(spark, events_path: str, out_dir: str, checkpoint_dir: str) -> int:
    """Run one AvailableNow pass; state persists in the checkpoint, so a
    later pass over newly arrived files continues the same sessions.
    Each micro-batch's updated per-user counts land under
    ``out_dir/updates/batch_id=<id>`` (replay-safe, see
    :func:`.stream.write_batch_idempotent`); :func:`read_latest` gives the
    newest per user. Returns number of micro-batches executed."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(events_path).schema
    ev = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .withColumn("epoch", F.col("ts").cast("timestamp").cast("long"))
        .select("user_id", "event_id", "epoch")
    )
    counts = ev.groupBy("user_id").applyInPandasWithState(
        _update_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Update-mode batches carry only the users touched in that batch —
    # each lands in its own batch_id=<id> partition; read_latest() takes
    # each user's newest row (an overwrite of "latest" would drop
    # untouched users).
    return _run_available_now(
        counts, os.path.join(out_dir, "updates"), checkpoint_dir, output_mode="update"
    )


#: streaming as-of join output (timestamps as epoch micros: the state
#: schema stays tz-unambiguous and integer-exact across engines).
ASOF_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts_us long, value double, "
    "asof_event_id long, asof_ts_us long, asof_value double"
)
#: per-user state: the latest right-side event seen so far.
ASOF_STATE_SCHEMA = "r_ts_us long, r_event_id long, r_value double"


def _update_asof(key, pdf_iter, state):
    """Per-user as-of merge (VERDICT r4 item 7): replay this batch's rows
    in (ts, side, event_id) order — right side first at equal ts, i.e.
    inclusive as-of, the exact sort the batch face's window pass uses
    (``operators/events.asof_join_df``). Right rows advance the
    latest-right state (max (ts, event_id) wins, which subsumes the batch
    face's per-(user, ts) max-event_id dedup); left rows emit enriched.
    State is 3 scalars/user — what a 100 TB stream actually has to hold."""
    (user_id,) = key
    r_ts, r_id, r_val = state.get if state.exists else (None, None, None)
    out = {k: [] for k in (
        "event_id", "user_id", "ts_us", "value",
        "asof_event_id", "asof_ts_us", "asof_value",
    )}
    chunks = list(pdf_iter)  # all Arrow chunks: global batch order per user
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts_us", "side", "event_id"])
        for row in pdf.itertuples():
            if row.side == 0:
                if r_ts is None or (row.ts_us, row.event_id) >= (r_ts, r_id):
                    r_ts, r_id, r_val = int(row.ts_us), int(row.event_id), float(row.value)
            else:
                # out-of-order guard (ADVICE r5): checkpointed right
                # state NEWER than this left row means a batch arrived
                # with event times older than already-processed state —
                # emit NULL asof fields (a detectable signal) instead of
                # an impossible from-the-future enrichment. In-batch
                # rows can't trip this: the sort replays rights first.
                stale = r_ts is not None and r_ts > row.ts_us
                out["event_id"].append(int(row.event_id))
                out["user_id"].append(user_id)
                out["ts_us"].append(int(row.ts_us))
                out["value"].append(float(row.value))
                out["asof_event_id"].append(None if stale else r_id)
                out["asof_ts_us"].append(None if stale else r_ts)
                out["asof_value"].append(None if stale else r_val)
    if r_ts is not None:
        state.update((r_ts, r_id, r_val))
    yield pd.DataFrame(out)


def stream_asof_join(spark, events_path: str, out_dir: str, checkpoint_dir: str) -> int:
    """Streaming face of the as-of join of clicks on views (the batch
    face's default types): one AvailableNow pass with per-user
    latest-right state carried across micro-batches in the checkpoint.
    Assumes event-time-ordered file arrival (the standard streaming as-of
    contract — a production topology enforces it with a watermark +
    sorted ingest); under that contract streamed output is row-identical
    to :func:`..operators.events.asof_join_df`
    (tests/test_events_report.py). Returns micro-batches executed."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        arrivals(spark, events_path, spark.read.parquet(events_path).schema)
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
        )
    )
    enriched = ev.groupBy("user_id").applyInPandasWithState(
        _update_asof,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_available_now(
        enriched, os.path.join(out_dir, "enriched"), checkpoint_dir, output_mode="append"
    )


def read_latest(spark, out_dir: str):
    """Newest per-user state from the update log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(out_dir, "updates"))
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_sessions", "n_events")
    )
