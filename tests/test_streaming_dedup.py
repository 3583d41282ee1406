"""Stateful streaming exact-dedup must converge to the batch dedup_exact
answer, including duplicate groups that SPAN micro-batch boundaries (only
the state can stitch those counts together) — and must never collect
updates to the driver (round-2 VERDICT item 2: the sink is foreachBatch ->
parquet append, not a memory sink)."""

from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_con
from usls_doc_spark.operators.dialect import DUCK
from usls_doc_spark.operators.text_queries import TEXT_QUERIES


def test_streaming_dedup_stitches_across_micro_batches(spark, tmp_path_factory):
    from usls_doc_spark.streaming.dedup import fold_update_log, start_streaming_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # split by doc_id parity: members of a dup group land in BOTH files,
    # so their counts exist only if state carries across the two triggers
    base = tmp_path_factory.mktemp("docs_stream")
    stage = tmp_path_factory.mktemp("docs_stage")
    for i, pred in enumerate(("doc_id % 2 = 0", "doc_id % 2 = 1")):
        docs.filter(pred).coalesce(1).write.parquet(str(stage / f"b{i}"))
        part = next((stage / f"b{i}").glob("part-*.parquet"))
        part.rename(base / f"batch{i}.parquet")

    sink = str(tmp_path_factory.mktemp("dedup_sink") / "updates")
    q = start_streaming_dedup(
        spark, str(base), sink, "dedup_state_test", max_files=1, glob="*.parquet"
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()

    # sink-kind assertion: updates go through foreachBatch (executor-side
    # parquet append), never a driver-memory sink
    desc = (progress or {}).get("sink", {}).get("description", "")
    assert "ForeachBatch" in desc, f"unexpected sink: {desc!r}"
    assert "MemorySink" not in desc

    got = fold_update_log(spark, sink)
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(TEXT_QUERIES["dedup_exact"](DUCK)))
    assert ok, msg
