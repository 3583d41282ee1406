"""Append-mode streaming window aggregations (round-6 VERDICT item 1):
the drained stream must equal the batch oracle, window groups must
accumulate across micro-batches, each closed window must be emitted
exactly once, and watermark passage must EVICT closed-window state
(numRowsRemoved > 0) — the property complete mode could never provide."""

import os
import shutil

from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_con
from usls_doc_spark.operators.relational import EVENTS_HOPPING_ORACLE
from usls_doc_spark.streaming.events import (
    SENTINEL_EVENT_TYPE,
    STREAMING_ORACLE,
    WINDOW_OUT_SCHEMA,
    start_window_stream,
    state_rows_removed,
    streaming_events_hopping,
    streaming_events_window,
    write_window_sentinels,
)
from usls_doc_spark.streaming.sink import read_sink_or_empty


def test_tumbling_matches_batch(spark):
    got = streaming_events_window(spark, SF_DIR)
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(STREAMING_ORACLE))
    assert ok, msg


def test_hopping_matches_batch(spark):
    got = streaming_events_hopping(spark, SF_DIR)
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(EVENTS_HOPPING_ORACLE))
    assert ok, msg


def _split_events(spark, base, stage):
    """Time-ordered 2-file split of the events table + sentinel waves,
    all with pinned ascending mtimes."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t_split = events.selectExpr("percentile_approx(ts, 0.5) AS m").collect()[0]["m"]
    for i, pred in enumerate(
        (f"ts < timestamp'{t_split}'", f"ts >= timestamp'{t_split}'")
    ):
        sdir = str(stage / f"b{i}")
        events.filter(pred).coalesce(1).write.parquet(sdir)
        part = next(
            p for p in os.listdir(sdir)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        dest = str(base / f"b{i}.parquet")
        shutil.move(f"{sdir}/{part}", dest)
        os.utime(dest, (2_000_000_000 + i, 2_000_000_000 + i))
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    write_window_sentinels(str(base), max_ts, mtime_base=2_000_000_005)


def test_split_stream_accumulates_evicts_and_emits_once(spark, tmp_path_factory):
    """A 2-file time-ordered split must fold to the batch answer: a window
    whose events straddle the file boundary accumulates in state across
    micro-batches and is emitted ONCE when the sentinel-advanced watermark
    closes it — with closed-window state provably evicted."""
    base = tmp_path_factory.mktemp("evw_split")
    stage = tmp_path_factory.mktemp("evw_stage")
    _split_events(spark, base, stage)

    sink = str(tmp_path_factory.mktemp("evw_sink") / "out")
    q = start_window_stream(
        spark, str(base), sink, "evw_split_test", slide="2 hours",
        max_files=1, glob="*.parquet",
    )
    try:
        q.processAllAvailable()
        removed = state_rows_removed(q)
    finally:
        q.stop()

    assert removed > 0, "no closed-window state was evicted at watermark passage"
    got = read_sink_or_empty(spark, sink, WINDOW_OUT_SCHEMA).filter(
        f"event_type <> '{SENTINEL_EVENT_TYPE}'"
    )
    # append mode emits each closed window exactly once — no duplicates
    total = got.count()
    distinct = got.select("win_start", "event_type").distinct().count()
    assert total == distinct, f"{total - distinct} duplicate window emissions"
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(EVENTS_HOPPING_ORACLE))
    assert ok, msg
