"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes every implemented operator (SURVEY.md §2 rebuild +
training-data ops); ``oracle_sql()`` gives the DuckDB-equivalent SQL for
every query — every registry entry carries a full hash oracle (see
usls_doc_spark/queries.py::build_registry).
"""

from __future__ import annotations

import pathlib
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from usls_doc_spark.queries import build_registry  # noqa: E402

_QUERIES, _ORACLES = build_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: main-content extraction
    over synthesized Common-Crawl-style pages (layout decode -> abandon
    filter -> XY-cut reading order -> span assembly)."""
    from usls_doc_spark.io.synth import pages_from_documents
    from usls_doc_spark.pipeline.extract import extract_pages

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    return extract_pages(pages).select(
        "url", "extracted_text", "n_blocks", "extracted_bytes", "error"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
