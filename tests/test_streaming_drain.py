"""The shared drain (streaming/sink.py): state partitions are sized to the
input only where a caller passes ``state_input`` and the session value is
restored afterwards; a source that yields no micro-batch reads back as an
empty frame of the declared schema; and a row dropped by the watermark
makes the drain raise instead of silently diverging from the batch
oracle."""

import datetime as dt

import pytest

from tests.conftest import SF_DIR
from usls_doc_spark.streaming.dedup import start_streaming_dedup
from usls_doc_spark.streaming.enrich import ENRICH_OUT_SCHEMA, run_enrich_to_sink
from usls_doc_spark.streaming.events import start_window_stream
from usls_doc_spark.streaming.sentinel import write_events_file
from usls_doc_spark.streaming.sessionize import start_streaming_sessionize
from usls_doc_spark.streaming.sink import drain

_KEY = "spark.sql.shuffle.partitions"


def _state_partition_counts(q) -> set[int]:
    return {
        int(so["numShufflePartitions"])
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    }


def test_state_input_sizes_state_partitions_and_restores_session(spark):
    session = spark.conf.get(_KEY)
    q, _ = drain(
        spark,
        lambda sink: start_streaming_sessionize(
            spark, SF_DIR, sink, "drain_sessionize_test"
        ),
        state_input=f"{SF_DIR}/events.parquet",
    )
    # 27 KB of events is one 512 KiB unit: the floor of 2 partitions
    assert _state_partition_counts(q) == {2}
    assert spark.conf.get(_KEY) == session

    q, _ = drain(
        spark,
        lambda sink: start_streaming_dedup(spark, SF_DIR, sink, "drain_dedup_test"),
    )
    assert _state_partition_counts(q) == {int(session)}
    assert spark.conf.get(_KEY) == session


def test_zero_batch_drain_reads_back_empty_with_schema(spark):
    got = run_enrich_to_sink(spark, SF_DIR, SF_DIR, glob="no_such_file_*.parquet")
    assert got.count() == 0
    assert got.schema == spark.createDataFrame([], ENRICH_OUT_SCHEMA).schema


def test_drain_raises_when_watermark_drops_a_row(spark, tmp_path):
    """Files trigger oldest-mtime first, one per micro-batch. Spark drops
    a row as late against the watermark the batch BEFORE it applied, so
    the out-of-order file must come third: batch 0 raises the watermark
    to t0 - 1 h, batch 1 applies it, batch 2 drops the 7 h older event
    (its 6 h window ended before that watermark)."""
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    for i, ts in enumerate((t0, t0 + dt.timedelta(hours=1),
                            t0 - dt.timedelta(hours=7))):
        write_events_file(str(tmp_path / f"f{i}.parquet"),
                          [(i, ts, 7, "view", 1.0, "")], 2_000_000_000 + i)
    with pytest.raises(RuntimeError, match="dropped by watermark"):
        drain(
            spark,
            lambda sink: start_window_stream(
                spark, str(tmp_path), sink, "drain_late_test",
                max_files=1, glob="*.parquet",
            ),
        )
