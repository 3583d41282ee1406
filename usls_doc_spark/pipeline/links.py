"""Anchor-text aggregation over raw page HTML — the crawl-frontier lens.

Spark path: synthesized pages -> link extraction per page through
crossing.map_rows (kernels/links.py, Arrow batches, no per-row Python
UDF) -> one hash aggregate per link target. The DuckDB oracle REBUILDS
every page's links in SQL from the generator's closed form
(io/synth.py:synth_page — nav emits '/cat/k' for k < 12, or k < 1200 on
skew pages doc_id % SKEW_MOD == 0, plus the fixed '/more'/'/about'/'/tos'
links), so the whole HTML -> scanner -> aggregation path is checked from
first principles.

Scale shape (100 TB): the link triples are a flatMap (1 page -> ~15
rows, ~1200 on skew pages); the aggregate keys on href with map-side
partial combine — hot targets ('/about' appears on EVERY page, the
classic site-chrome hot key) collapse per mapper, never through one
reducer. n_docs is an exact count(distinct url) per href: Spark plans
it as a two-level (href, url) -> href aggregate, both levels hash aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.synth import SKEW_SQL, pages_from_documents
from ..kernels.links import extract_links
from .crossing import map_rows

LINKS_SCHEMA = "url string, href string, anchor string"


def _page_links(url: str, html: bytes) -> list[tuple]:
    page = bytes(html).decode("utf-8", errors="replace")
    return [(url, href, anchor) for href, anchor in extract_links(page)]


def page_links(pages_df: DataFrame) -> DataFrame:
    """(url, href, anchor) triples — lazy, column-pruned before Arrow."""
    return map_rows(pages_df.select("url", "html"), _page_links, LINKS_SCHEMA)


def anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per link target: reference count, referring-document count, and the
    canonical anchor text (MIN — deterministic tie-break)."""
    pages = pages_from_documents(spark, sf_dir)
    return (
        page_links(pages)
        .groupBy("href")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.countDistinct("url").alias("n_docs"),
            F.min("anchor").alias("anchor_text"),
        )
    )


# DuckDB oracle: rebuild the generator's links per document in SQL.
ANCHOR_AGG_ORACLE = f"""
WITH links AS (
  SELECT doc_id,
         '/cat/' || CAST(k AS VARCHAR) AS href,
         'section ' || CAST(k AS VARCHAR) || ' link' AS anchor
  FROM documents,
       unnest(generate_series(
         0, CASE WHEN {SKEW_SQL} THEN 1199 ELSE 11 END
       )) AS t(k)
  UNION ALL
  SELECT doc_id, '/more', 'read more stories here' FROM documents
  UNION ALL
  SELECT doc_id, '/about', 'about' FROM documents
  UNION ALL
  SELECT doc_id, '/tos', 'terms' FROM documents
)
SELECT href,
       COUNT(*) AS n_refs,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(anchor) AS anchor_text
FROM links
GROUP BY href
"""
