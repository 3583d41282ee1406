"""The one lineage cut: every materialized intermediate in the package goes
through ``materialize``. When the SparkContext has a checkpoint dir (a
deployment path: ``spark.checkpoint.dir`` or ``setCheckpointDir``), the cut
is a RELIABLE checkpoint, so an executor loss re-reads the blocks instead of
recomputing the lineage the cut threw away; otherwise it is a local
checkpoint (executor-memory blocks). Both are eager and both cut the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, view: str | None = None) -> DataFrame:
    """Eagerly checkpoint ``df``; with ``view``, also register the result
    as that temp view."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    if view is not None:
        out.createOrReplaceTempView(view)
    return out
