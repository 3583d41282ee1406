"""Driver-side sentinel-file plumbing for the drain protocols (round 8).

The watermark-closure sentinels are 1-2 row parquet files. Round 7 wrote
them via ``spark.createDataFrame(...).coalesce(1).write.parquet()`` — a
full Spark job (plan, schedule, task, commit protocol) per wave, measured
~5 s per wave at bench time, i.e. ~10 s of the 13-15 s drained-query
wall. The event-time maximum likewise ran a Spark read+agg job. Both are
driver-side metadata chores over KNOWN tiny data, so round 8 does them
with pyarrow directly (guide §1.2: remove work, don't tune it):

  * ``stage_events`` reads ONLY the ts column of the events parquet via
    pyarrow and takes its max — the exact same value the Spark
    ``agg(F.max("ts"))`` job produced, with zero timezone round-trips
    (both paths are micros-since-epoch under the UTC session),
  * ``write_events_file`` writes the sentinel rows as a parquet file via
    pyarrow — physical types (int64 / timestamp[us] / string / double)
    are read identically by the streaming source's explicit schema.

The sentinel SEMANTICS (wave timing, mtime ordering, two-wave
application) are unchanged — see streaming/events.py and
streaming/attribution.py module docstrings."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .sink import temp_dir

DATA_MTIME = 2_000_000_000  # pinned mtime of the staged data file; sentinel
#                             waves follow it at DATA_MTIME + 1, + 2, ...

_EVENTS_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def write_events_file(dest: str, rows: list[tuple], mtime: int) -> None:
    """Write ``rows`` (EVENTS_SCHEMA order: event_id, ts, user_id,
    event_type, value, props) as one parquet file with a pinned mtime."""
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type)
         for c, f in zip(cols, _EVENTS_ARROW_SCHEMA)],
        schema=_EVENTS_ARROW_SCHEMA,
    )
    pq.write_table(table, dest)
    os.utime(dest, (mtime, mtime))


def stage_events(sf_dir: str, write_sentinels) -> str:
    """Copy ``sf_dir``'s events file into a fresh directory as the first
    file to trigger (pinned mtime), let ``write_sentinels(events_dir,
    max_ts)`` add the sentinel waves after it, and return the directory."""
    src = f"{sf_dir}/events.parquet"
    events_dir = temp_dir("usls_stream_events_")
    shutil.copy(src, f"{events_dir}/batch0.parquet")
    os.utime(f"{events_dir}/batch0.parquet", (DATA_MTIME, DATA_MTIME))
    max_ts = pc.max(pq.read_table(src, columns=["ts"]).column("ts")).as_py()
    write_sentinels(events_dir, max_ts)
    return events_dir
