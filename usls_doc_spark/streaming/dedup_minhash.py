"""Custom stateful streaming operator: streaming MinHash-LSH near-dup
candidate detection — the streaming twin of the batch dedup_minhash_lsh
query (operators/text_queries.py::build_minhash_lsh_pairs), maintaining
per-(band, band_key) bucket membership across micro-batches.

Reference behavior mirrored: the same near-duplicate candidate semantics
the batch query restates from the curation canon (MinHash banding per
Broder '97); the reference repo itself has no streaming analogue — this
is the ingestion-time form a crawl pipeline needs (dedup new documents
against the stream as they arrive, FineWeb/CCNet-style).

Why this converges EXACTLY to the batch answer: the batch plan caps each
(band, band_key) bucket at the BAND_CAP smallest doc_ids (text_queries.
_capped_bands — the skew bound that keeps a hot boilerplate bucket from
exploding into k² pairs). "Keep the k smallest ids of everything seen"
is an order-insensitive, merge-associative FOLD: an id evicted early can
never re-enter (the k smaller ids that evicted it are still present), so
any micro-batch split or arrival order drains to the same final
membership — the determinism contract every operator in this repo obeys.
The pair join then runs BATCH-side over the folded buckets (each ≤
BAND_CAP members), so the streaming state never holds pairs, only
bounded bucket membership.

State per (band, band_key): (members: ≤BAND_CAP sorted doc_ids as a
comma-joined string — bounded ~1.3 KB; n_seen: total arrivals, the
monotone version stamp the read-back fold uses to pick each bucket's
final membership). At 100 TB the bucket-key cardinality grows with the
corpus (inherent for global near-dup, exactly as exact dedup), so the
production deployment rides the RocksDB state store + the same epoch
rotation documented for the bloom-fronted exact variant (streaming/
dedup.py); per-bucket state stays O(BAND_CAP) regardless of skew.

Sink: update rows flow through the per-batch sink (streaming/sink.py)
into an append-only parquet directory on the executors (never a driver memory sink); the batch
read-back takes max_by(members, n_seen) per bucket — n_seen strictly
increases per update, so "latest" is well-defined without wall clocks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dialect import SPARK
from ..operators.text_queries import BAND_CAP
from .dedup import DOCS_SCHEMA
from .sink import drain, file_stream, read_sink_or_empty, start_sink

N_BANDS = 8  # must match build_minhash_lsh_pairs (8 md5 minhashes)

OUTPUT_SCHEMA = "band int, band_key string, members string, n_seen bigint"
STATE_SCHEMA = "members string, n_seen bigint"

_QUERY_NAME = "usls_stream_dedup_minhash"


def _signature_array_expr() -> str:
    """The Spark-dialect rendering of the batch sigs CTE's signature array:
    array(mh0..mh7) where mh_j = array_min(transform(shingles, s ->
    md5('j:' || s))) — rendered by the SAME Dialect methods the batch/
    oracle template uses, so the streaming twin cannot drift."""
    ws = SPARK.split("text")
    sh = SPARK.shingles("ws", 3)
    mh = ", ".join(
        SPARK.array_min(SPARK.array_transform("sh", "s", SPARK.md5(f"'{j}:' || s")))
        for j in range(N_BANDS)
    )
    return f"array({mh})", ws, sh


def _bucket_fold(key, pdfs, state: GroupState):
    members, n_seen = state.get if state.exists else ("", 0)
    ids = {int(x) for x in members.split(",")} if members else set()
    for pdf in pdfs:
        n_seen += len(pdf)
        ids.update(int(v) for v in pdf["doc_id"])
    kept = sorted(ids)[:BAND_CAP]
    folded = ",".join(str(i) for i in kept)
    state.update((folded, n_seen))
    yield pd.DataFrame(
        [(key[0], key[1], folded, n_seen)],
        columns=["band", "band_key", "members", "n_seen"],
    )


def start_streaming_dedup_minhash(
    spark: SparkSession, docs_dir: str, sink_dir: str,
    query_name: str = _QUERY_NAME,
    max_files: int = 1, glob: str = "documents.parquet",
):
    """Start the stateful bucket-membership stream over parquet document
    files, sinking per-bucket update rows to ``sink_dir`` (parquet,
    appended per micro-batch on the executors)."""
    stream = file_stream(spark, DOCS_SCHEMA, docs_dir, glob, max_files)
    sig_arr, ws, sh = _signature_array_expr()
    banded = (
        stream.select("doc_id", F.expr(ws).alias("ws"))
        .select("doc_id", F.expr(sh).alias("sh"))
        .select("doc_id", F.posexplode(F.expr(sig_arr)).alias("band", "band_key"))
    )
    out = banded.groupBy("band", "band_key").applyInPandasWithState(
        _bucket_fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start_sink(out, sink_dir, query_name, "update")


def fold_bucket_log(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Fold the appended per-bucket updates into the batch answer: take
    each bucket's FINAL membership (max n_seen — strictly monotone), then
    run the batch pair join over the folded buckets. Each bucket is ≤
    BAND_CAP members, so the self-join is bounded by cap²/2 pairs per
    bucket — identical to the batch plan's post-cap join."""
    updates = read_sink_or_empty(spark, sink_dir, OUTPUT_SCHEMA)
    final = updates.groupBy("band", "band_key").agg(
        F.max_by("members", "n_seen").alias("members")
    )
    m = final.select(
        "band", "band_key",
        F.explode(F.split("members", ",")).alias("id"),
    ).select("band", "band_key", F.col("id").cast("bigint").alias("doc_id"))
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream, fold the bucket log, return near-dup candidate
    pairs — exactly the batch dedup_minhash_lsh answer (same oracle SQL).
    No ``state_input``: the per-bucket Python fold's partitions are its
    compute parallelism (see streaming/sink.py)."""
    _, sink_dir = drain(
        spark, lambda sink: start_streaming_dedup_minhash(spark, sf_dir, sink)
    )
    return fold_bucket_log(spark, sink_dir)
