"""The one Arrow crossing (pipeline/crossing.py): batch invariance of the
migrated crossings, the input split's size rule, and the boundary guard
that keeps new hand-written mapInPandas loops out of the package."""

import ast
import math
import pathlib

import pyarrow.parquet as pq

from tests.conftest import SF_DIR

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "usls_doc_spark"
# batch kernels with columnar output or per-task state keep their own loop
MAP_IN_PANDAS_ALLOWED = {
    "pipeline/crossing.py",
    "pipeline/extract.py",
    "pipeline/chargrams.py",
    "operators/text_exec.py",
    "operators/training_mix_exec.py",
}


def test_crossings_are_batch_invariant(spark):
    """A row's output does not depend on the Arrow batch it arrives in:
    the same sorted rows at maxRecordsPerBatch 1, 7 and the default, for
    a per-row crossing, the cross-row width-bucket crossing and a toy
    map_rows kernel (checked against plain Python as well)."""
    from usls_doc_spark.pipeline.crossing import map_rows
    from usls_doc_spark.pipeline.raster_ocr import raster_extract_text, raster_ocr_spans

    def toy_words(doc_id: int, text: str) -> list[tuple]:
        """Fan-out 0..3 rows per document; every fifth emits none. Local,
        so the workers unpickle it by value."""
        if doc_id % 5 == 0:
            return []
        return [(doc_id, k, w) for k, w in enumerate(text.split()[:3])]

    docs = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    toy_want = sorted(
        r for d, t in zip(*docs.to_pydict().values()) for r in toy_words(d, t)
    )
    queries = {
        "raster_extract_text": lambda: raster_extract_text(spark, SF_DIR),
        "raster_ocr_spans": lambda: raster_ocr_spans(spark, SF_DIR),
        "toy_map_rows": lambda: map_rows(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text"),
            toy_words,
            "doc_id bigint, k int, word string",
        ),
    }
    default = spark.conf.get(BATCH_CONF)
    seen: dict[str, list] = {}
    try:
        for size in (default, "1", "7"):
            spark.conf.set(BATCH_CONF, size)
            for name, q in queries.items():
                rows = sorted(tuple(r) for r in q().collect())
                assert rows, name
                assert seen.setdefault(name, rows) == rows, (name, size)
    finally:
        spark.conf.set(BATCH_CONF, default)
    assert seen["toy_map_rows"] == toy_want


def test_adaptive_partitions_sizes_spark_directory_by_its_files(spark, tmp_path_factory):
    """A documents.parquet written by Spark is a directory; its size is
    the sum of its data files, not the directory entry's own size, and
    split_documents derives its task count from that size."""
    from usls_doc_spark.pipeline.crossing import (
        PART_BYTES,
        adaptive_partitions,
        split_documents,
    )

    sf_dir = str(tmp_path_factory.mktemp("spark_docs"))
    path = f"{sf_dir}/documents.parquet"
    # ~0.5 MB of unique hex text: between 1 and 4 waves of PART_BYTES on
    # local[8], so the count comes from the size, not a clamp
    spark.range(4000).selectExpr(
        "id AS doc_id",
        "concat(sha2(cast(id AS string), 256), sha2(cast(-id AS string), 256)) AS text",
    ).coalesce(2).write.parquet(path)
    data = [p for p in pathlib.Path(path).iterdir() if p.name.startswith("part-")]
    assert len(data) == 2
    par = spark.sparkContext.defaultParallelism
    want = math.ceil(sum(p.stat().st_size for p in data) / PART_BYTES)
    assert par < want < 4 * par
    assert adaptive_partitions(spark, path, floor_waves=1, cap_waves=4) == want
    assert split_documents(spark, sf_dir).rdd.getNumPartitions() == want
    # a single file keeps its own size
    assert adaptive_partitions(spark, str(data[0]), floor_waves=0, cap_waves=4) == (
        math.ceil(data[0].stat().st_size / PART_BYTES)
    )


def test_map_in_pandas_only_at_the_crossing():
    """Every .mapInPandas( call in the package is in crossing.py or an
    allowlisted batch kernel; a new row-shaped crossing goes through
    map_rows / map_batches instead of growing its own loop."""
    found = set()
    for path in PACKAGE.rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        if any(
            isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
            for node in ast.walk(tree)
        ):
            found.add(path.relative_to(PACKAGE).as_posix())
    assert "pipeline/crossing.py" in found
    assert found <= MAP_IN_PANDAS_ALLOWED, sorted(found - MAP_IN_PANDAS_ALLOWED)
