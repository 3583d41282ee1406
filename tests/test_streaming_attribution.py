"""Stream-stream interval join (view -> purchase attribution) must equal
the batch interval join, including matched pairs whose two sides arrive in
DIFFERENT micro-batches (only the join state can produce those), and must
sink through foreachBatch (executor-side parquet), never driver memory."""

import os

from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_con
from usls_doc_spark.streaming.attribution import (
    ATTRIBUTION_ORACLE,
    streaming_click_attribution,
)


def test_attribution_matches_batch_interval_join(spark):
    got = streaming_click_attribution(spark, SF_DIR)
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(ATTRIBUTION_ORACLE))
    assert ok, msg


def test_attribution_outer_matches_batch_left_join(spark):
    from usls_doc_spark.streaming.attribution import (
        ATTRIBUTION_OUTER_ORACLE,
        streaming_click_attribution_outer,
    )

    got = streaming_click_attribution_outer(spark, SF_DIR)
    assert got.filter("purchase_id IS NULL").count() > 0  # real outer rows
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(ATTRIBUTION_OUTER_ORACLE))
    assert ok, msg


def test_attribution_outer_nulls_emit_only_after_watermark(spark, tmp_path_factory):
    """The defining leftOuter property: an unmatched view's NULL row may
    NOT emit while its window could still be matched — it emits only once
    the watermark passes view_ts + 2 h, which also EVICTS the view's
    state (numRowsRemoved > 0). no-data micro-batches are disabled so
    watermark application points are deterministic."""
    import os

    from usls_doc_spark.streaming.attribution import (
        ATTRIBUTION_OUT_SCHEMA,
        ATTRIBUTION_OUTER_ORACLE,
        start_attribution_stream,
        write_watermark_sentinels,
    )
    from usls_doc_spark.streaming.sink import read_sink_or_empty

    base = tmp_path_factory.mktemp("events_outer")
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", str(base / "batch0.parquet"))
    os.utime(str(base / "batch0.parquet"), (2_000_000_000, 2_000_000_000))
    sink = str(tmp_path_factory.mktemp("attr_outer_sink") / "pairs")

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    q = start_attribution_stream(
        spark, str(base), sink, "attr_outer_state_test",
        max_files=1, glob="*.parquet", how="leftOuter",
    )
    try:
        q.processAllAvailable()
        # all real data processed, watermark not yet applied: the matched
        # pairs are out, but NOT ONE unmatched-view NULL row may exist
        mid = read_sink_or_empty(spark, sink, ATTRIBUTION_OUT_SCHEMA)
        assert mid.filter("purchase_id IS NULL").count() == 0
        assert mid.count() > 0  # inner matches did emit eagerly

        max_ts = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .selectExpr("max(ts) AS m").collect()[0]["m"]
        )
        write_watermark_sentinels(str(base), max_ts)
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
        spark.conf.set(key, prev)

    # state eviction accompanied the NULL emissions
    ops = (progress or {}).get("stateOperators", [])
    removed = sum(int(o.get("numRowsRemoved", 0)) for o in ops)
    assert removed > 0, f"no state evicted at watermark passage: {ops}"

    got = read_sink_or_empty(spark, sink, ATTRIBUTION_OUT_SCHEMA).filter(
        "view_id >= 0"
    )
    assert got.filter("purchase_id IS NULL").count() > 0
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(ATTRIBUTION_OUTER_ORACLE))
    assert ok, msg


def test_attribution_joins_across_micro_batches(spark, tmp_path_factory):
    from usls_doc_spark.streaming.attribution import (
        ATTRIBUTION_OUT_SCHEMA,
        start_attribution_stream,
    )
    from usls_doc_spark.streaming.sink import read_sink_or_empty

    con = duck_con(SF_DIR)
    # pick a matched pair with a strictly-later purchase and split time
    # EXACTLY at its purchase_ts: the view lands in file 0, the purchase
    # in file 1 — the match can only come from buffered join state
    pair = con.sql(
        f"SELECT view_id, purchase_id, purchase_ts FROM ({ATTRIBUTION_ORACLE}) "
        "WHERE lag_ms > 0 ORDER BY lag_ms DESC LIMIT 1"
    ).fetchall()[0]
    view_id, purchase_id, t_split = pair

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    base = tmp_path_factory.mktemp("events_stream")
    stage = tmp_path_factory.mktemp("events_stage")
    for i, pred in enumerate((f"ts < timestamp'{t_split}'", f"ts >= timestamp'{t_split}'")):
        events.filter(pred).coalesce(1).write.parquet(str(stage / f"b{i}"))
        part = next((stage / f"b{i}").glob("part-*.parquet"))
        dest = base / f"batch{i}.parquet"
        part.rename(dest)
        # the file source triggers oldest-modtime first: pin the order
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    sink = str(tmp_path_factory.mktemp("attr_sink") / "pairs")
    q = start_attribution_stream(
        spark, str(base), sink, "attr_state_test", max_files=1, glob="*.parquet"
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()

    desc = (progress or {}).get("sink", {}).get("description", "")
    assert "ForeachBatch" in desc and "MemorySink" not in desc

    # bounded-state proof: batch 0 spans weeks of events, so once batch 1
    # advances the watermark, join state older than (watermark - 2 h) must
    # actually be REMOVED — the property that lets this stream run forever
    ops = (progress or {}).get("stateOperators", [])
    assert ops, "no stateOperators metrics on the join"
    removed = sum(int(o.get("numRowsRemoved", 0)) for o in ops)
    assert removed > 0, f"watermark advanced but no state evicted: {ops}"

    got = read_sink_or_empty(spark, sink, ATTRIBUTION_OUT_SCHEMA)
    # the boundary-spanning pair is present (cross-batch state match)...
    spanning = got.filter(
        f"view_id = {view_id} AND purchase_id = {purchase_id}"
    ).count()
    assert spanning == 1
    # ...and the full drained result equals the batch join
    ok, msg = compare(got, con.sql(ATTRIBUTION_ORACLE))
    assert ok, msg


def test_attribution_full_matches_batch_full_join(spark):
    """FULL-OUTER drained stream == batch FULL JOIN, with BOTH null
    directions present: unmatched views (NULL purchase columns) AND
    unmatched purchases (NULL view columns — the 'conversion with no
    attributable impression' rows)."""
    from usls_doc_spark.streaming.attribution import (
        ATTRIBUTION_FULL_ORACLE,
        streaming_click_attribution_full,
    )

    got = streaming_click_attribution_full(spark, SF_DIR)
    assert got.filter("purchase_id IS NULL").count() > 0
    assert got.filter("view_id IS NULL").count() > 0
    assert got.filter("user_id IS NULL").count() == 0  # coalesce covers both
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(ATTRIBUTION_FULL_ORACLE))
    assert ok, msg
