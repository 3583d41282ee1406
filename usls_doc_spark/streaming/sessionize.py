"""Custom stateful streaming operator #4: streaming sessionization via
``applyInPandasWithState`` with EVENT-TIME TIMEOUT — the streaming
analogue of the batch events_sessionize query (operators/relational.py
SESSIONIZE_SQL: 30-minute-gap sessions per user), and the one stateful
shape the repo's streaming matrix still lacked: state that is EVICTED by
the watermark mid-stream (dedup uses NoTimeout-forever state; the
interval joins evict join buffers, not user-defined state).

Semantics / determinism contract: per user the operator folds events in
(ts, event_id) order, opening a new session when the gap to the previous
event exceeds 30 minutes — exactly the batch window's lag() rule. State
per user is one GENERATION: (gen_id = first event's epoch micros — globally
unique because generations are time-disjoint, n_sessions, n_events,
first/last epoch micros). When the watermark passes last_ts + 30 min AND
the user has no data in the applying batch, the generation times out: a
closed row is emitted and the state REMOVED — correct because any
later-arriving event must carry ts > watermark > last_ts + 30 min (older
rows are late and excluded before the operator), so it would have opened
a new session anyway. If new data for the key arrives in the same batch
instead, Spark suppresses the timeout and the SAME generation simply
continues under the gap rule — identical integers either way, only the
generation bookkeeping differs. The update-log fold is
exact: within a generation every counter is monotone (max/min collapse
the per-trigger updates); across generations sessions and events are
disjoint sums. The drained fold therefore equals the batch answer at any
micro-batch split that respects event-time order — the same ordering
assumption as the attribution joins (round-4 ADVICE item 5), asserted
loudly via numRowsDroppedByWatermark == 0.

Scale shape: state per ACTIVE user is one fixed-width row, and event-time
timeout bounds "active" to users seen within the last session-gap +
watermark delay — the property that lets this run forever on an unbounded
clickstream (NoTimeout sessionization would accrete every user ever
seen). Sink discipline: update-mode per-batch parquet appends on the
executors (streaming/sink.py), zero-batch guarded; the fold is itself one distributed hash
aggregate per level, both map-side combinable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .attribution import SENTINEL_USER
from .events import EVENTS_SCHEMA
from .sink import drain, file_stream, read_sink_or_empty, start_sink

SESSION_GAP_US = 30 * 60 * 1_000_000  # the batch query's 30-minute rule (micros)

OUT_SCHEMA = (
    "user_id bigint, gen bigint, n_sessions bigint, n_events bigint, "
    "first_us bigint, last_us bigint, closed int"
)
STATE_SCHEMA = "gen bigint, n_sessions bigint, n_events bigint, first_us bigint, last_us bigint"

_QUERY_NAME = "usls_stream_sessionize"


def _sessionize_group(key, pdfs, state: GroupState):
    if state.hasTimedOut:
        gen, n_sessions, n_events, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            [(key[0], gen, n_sessions, n_events, first_us, last_us, 1)],
            columns=["user_id", "gen", "n_sessions", "n_events",
                     "first_us", "last_us", "closed"],
        )
        return
    ev = pd.concat(list(pdfs), ignore_index=True)
    if not len(ev):
        return
    ev = ev.sort_values(["ts", "event_id"], kind="mergesort")
    # pin the resolution BEFORE the integer cast: a future pandas/pyarrow
    # default of datetime64[us] would silently make //1000 yield millis
    ts_us = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 1_000
    ).to_numpy()  # epoch micros: the source carries microsecond precision
    if state.exists:
        gen, n_sessions, n_events, first_us, last_us = state.get
    else:
        gen, n_sessions, n_events, first_us, last_us = (
            int(ts_us[0]), 0, 0, int(ts_us[0]), None,
        )
    for t in ts_us:
        t = int(t)
        if last_us is None or t - last_us > SESSION_GAP_US:
            n_sessions += 1
        last_us = t
    n_events += len(ts_us)
    state.update((gen, n_sessions, n_events, first_us, last_us))
    # evict once the watermark proves the session gap has lapsed; a
    # timeout timestamp must sit strictly beyond the current watermark
    # (Spark rejects earlier ones), so an already-lapsed session times
    # out at the very next watermark tick
    state.setTimeoutTimestamp(
        max((last_us + SESSION_GAP_US + 999) // 1000,
            state.getCurrentWatermarkMs() + 1)
    )
    yield pd.DataFrame(
        [(key[0], gen, n_sessions, n_events, first_us, last_us, 0)],
        columns=["user_id", "gen", "n_sessions", "n_events",
                 "first_us", "last_us", "closed"],
    )


def start_streaming_sessionize(spark: SparkSession, events_dir: str,
                               sink_dir: str, query_name: str = _QUERY_NAME,
                               max_files: int | None = None,
                               glob: str = "events.parquet"):
    """Start the stateful sessionizer over parquet event files, appending
    per-trigger generation updates to ``sink_dir`` (executor-side parquet,
    no driver sink). Watermark-advancing sentinel rows (user_id < 0, used
    by the eviction tests) flow THROUGH the stateful operator and are
    filtered at fold time — filtering them pre-state would let Catalyst
    push the filter below the EventTimeWatermark node, and the sentinels
    would stop advancing event time (observed, not hypothetical: the
    eviction test caught exactly that with a pre-state filter)."""
    events = (
        file_stream(spark, EVENTS_SCHEMA, events_dir, glob, max_files)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_id", "ts")
    )
    out = events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return start_sink(out, sink_dir, query_name, "update")


def fold_session_log(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Two-level exact fold of the generation update log: per (user, gen)
    the counters are monotone across triggers (max/min collapse to the
    final state); across generations sessions/events are disjoint (sum)
    and first/last nest (min/max). Both levels are ordinary hash
    aggregates with map-side combine."""
    updates = read_sink_or_empty(spark, sink_dir, OUT_SCHEMA).filter(
        F.col("user_id") != SENTINEL_USER
    )
    per_gen = updates.groupBy("user_id", "gen").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )
    return per_gen.groupBy("user_id").agg(
        F.sum("n_sessions").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.timestamp_micros(F.min("first_us")).alias("first_ts"),
        F.timestamp_micros(F.max("last_us")).alias("last_ts"),
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream over the events table and fold the generation log
    — exactly the batch events_sessionize answer (same SESSIONIZE_SQL
    oracle). The driver path reads one events.parquet in a single
    micro-batch (the ordering assumption holds trivially); open
    generations at end-of-input are folded identically to closed ones, so
    convergence does not depend on eviction having fired — eviction is
    separately proven by the sentinel-driven test
    (tests/test_streaming_sessionize.py)."""
    _, sink_dir = drain(
        spark,
        lambda sink: start_streaming_sessionize(spark, sf_dir, sink),
        state_input=f"{sf_dir}/events.parquet",
    )
    return fold_session_log(spark, sink_dir)
