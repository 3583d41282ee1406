"""The JVM<->Python crossing for row-shaped page kernels.

Every row-shaped kernel reaches Python through ``map_batches`` or
``map_rows``: the call site keeps its kernel, its output schema and its
input frame, and this module owns the Arrow batch loop, the output
column names and the output frame. Row isolation, in-task stage timing
and a work-weighted split are changes to this module alone.

``split_documents`` is the shared input split of the raster crossings:
the documents table repartitioned on doc_id into an input-size-derived
task count (``adaptive_partitions``), because a single small parquet
file is one split and would run the whole crossing as one task.

Batch kernels with columnar output or per-task state keep their own
``mapInPandas`` (extract.py, chargrams.py, text_exec.py,
training_mix_exec.py); tests/test_crossing.py holds that allowlist.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable, Iterable, Iterator
from itertools import chain, starmap

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# input bytes per task before the wave clamps of adaptive_partitions
PART_BYTES = 32 * 1024


def map_batches(
    df: DataFrame, fn: Callable[[Iterator[tuple]], Iterable[tuple]], schema: str
) -> DataFrame:
    """Run ``fn`` once per Arrow batch of ``df`` (lazy). ``fn`` receives
    the batch's rows as tuples in ``df.columns`` order and returns output
    tuples in ``schema``'s column order."""
    struct = StructType.fromDDL(schema)  # parsed once, on the driver
    cols = struct.names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = list(fn(pdf.itertuples(index=False, name=None)))
            yield pd.DataFrame(rows, columns=cols)

    run.__name__ = fn.__name__  # the plan's MapInPandas node shows the kernel
    return df.mapInPandas(run, schema=struct)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """``map_batches`` over a function of one row: ``fn(*row)`` returns
    zero or more output tuples."""

    def each_row(rows: Iterator[tuple]) -> Iterable[tuple]:
        return chain.from_iterable(starmap(fn, rows))

    each_row.__name__ = fn.__name__
    return map_batches(df, each_row, schema)


def split_documents(spark, sf_dir: str) -> DataFrame:
    """(doc_id, text) of the documents table, hash-split on doc_id into
    1-4 waves per core sized by the input bytes."""
    path = f"{sf_dir}/documents.parquet"
    nparts = adaptive_partitions(spark, path, floor_waves=1, cap_waves=4)
    docs = spark.read.parquet(path).select("doc_id", "text")
    return docs.repartition(nparts, "doc_id")


def adaptive_partitions(spark, path: str, floor_waves: int = 2,
                        cap_waves: int = 8, size_mult: int = 1) -> int:
    """Input-size-derived task count for a kernel crossing (round 8,
    guide §2.2): ceil(input_bytes / PART_BYTES) clamped to
    [floor_waves, cap_waves] waves per core. Fixed waves-per-core
    constants pay pure scheduling overhead on small inputs and the cap
    keeps big inputs at the measured skew-amortizing wave count."""
    par = spark.sparkContext.defaultParallelism
    try:
        size = _input_bytes(path) * size_mult
    except OSError:
        return par * cap_waves
    return min(par * cap_waves,
               max(par * floor_waves, math.ceil(size / PART_BYTES)))


def _input_bytes(path: str) -> int:
    """A file's size, or the summed size of the data files under a
    directory (Spark skips names starting with '_' or '.', e.g. _SUCCESS
    and .crc files)."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )
