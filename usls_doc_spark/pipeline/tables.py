"""SLANet-style table-structure recognition over the extraction pipeline's
merged <table> blocks, distributed (SURVEY.md §2.7; decode semantics
/root/reference/src/models/slanet/impl.rs:49-108).

Model boundary: the SLANet encoder is a deterministic stub emitting the
token-logits and cell-bbox heads for the block's cell grid — VARIABLE
structure (1-4 rows, ragged last rows; exactly the rows io/synth.py
renders via table_rows, round-2 VERDICT item 3); the REAL decode loop
(kernels/table_structure.py: per-step argmax, EOS break, SOS skip,
td-token -> 4 corners scaled to the table image) runs on every table
block. Cell bboxes are dyadic rationals (c/8, r/4) scaled by a 512x256
table image, so every corner is an exact float32 integer — the DuckDB
oracle states them with integer arithmetic, no pinning needed.
"""

from __future__ import annotations

import numpy as np

from ..io.synth import (
    CHUNKS_SQL,
    LAST_WORDS_SQL,
    RENDERS_TABLE_SQL,
    TABLE_ROW_COUNT_SQL,
    URL_SQL,
)
from ..kernels.boilerplate import classify_block, parse_blocks
from ..kernels.table_structure import decode_table_structure
from .crossing import map_rows

SLANET_VOCAB = ["<sos>", "<eos>", "<tr>", "</tr>", "<td></td>"]
SOS_ID, EOS_ID, TR_ID, TREND_ID, TD_ID = range(5)
TABLE_IMAGE_H, TABLE_IMAGE_W = 256.0, 512.0

TABLE_CELLS_SCHEMA = (
    "url string, cell_id int, row_id int, col_id int, "
    "x1 float, y1 float, x2 float, y2 float, "
    "x3 float, y3 float, x4 float, y4 float, n_tokens int"
)


def stub_slanet_heads(row_lens: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Token-logit + cell-bbox heads for a table with the given per-row
    cell counts (arbitrary 1-4-row ragged structures — slanet/impl.rs
    decodes any structure, so the stub must too)."""
    rows = row_lens
    seq: list[int] = [SOS_ID]
    bboxes: list[list[float]] = [[0.0] * 8]
    for r, row_len in enumerate(rows):
        seq.append(TR_ID)
        bboxes.append([0.0] * 8)
        for c in range(row_len):
            seq.append(TD_ID)
            x1, x2 = c / 8.0, (c + 1) / 8.0
            y1, y2 = r / 4.0, (r + 1) / 4.0
            bboxes.append([x1, y1, x2, y1, x2, y2, x1, y2])
        seq.append(TREND_ID)
        bboxes.append([0.0] * 8)
    seq.append(EOS_ID)
    bboxes.append([0.0] * 8)
    logits = np.zeros((len(seq), len(SLANET_VOCAB)), dtype=np.float32)
    logits[np.arange(len(seq)), seq] = np.float32(0.9)
    return logits, np.asarray(bboxes, dtype=np.float32)


def table_cells_for_page(url: str, html_bytes) -> list[tuple]:
    if html_bytes is None:
        return []
    from ..io.synth import table_rows

    doc_id = int(url.rsplit("/", 1)[-1])
    out = []
    for blk in parse_blocks(bytes(html_bytes).decode("utf-8", errors="replace")):
        cls, _ = classify_block(blk)
        if cls != "table":
            continue
        words = blk.text.split(" ")
        # the deterministic stand-in for the SLANet encoder: structure is a
        # pure function of (doc_id, cell count) — the same function the
        # generator rendered, so the decode is checkable without pinning
        row_lens = [len(r) for r in table_rows(doc_id, words)]
        logits, bboxes = stub_slanet_heads(row_lens)
        texts, kpts = decode_table_structure(
            logits, bboxes, SLANET_VOCAB, TABLE_IMAGE_H, TABLE_IMAGE_W,
            sos_id=SOS_ID, eos_id=EOS_ID,
        )
        rc = [(r, c) for r, ln in enumerate(row_lens) for c in range(ln)]
        for i, cell in enumerate(kpts):
            r, c = rc[i]
            out.append(
                (
                    url,
                    i,
                    r,
                    c,
                    *[float(v) for xy in cell[:, :2] for v in xy],
                    len(texts),
                )
            )
    return out


def table_cells(spark, sf_dir: str):
    """pages -> one row per recognized table cell with 4-corner geometry.

    A coarse JVM-side prefilter (html bytes contain '<table') runs BEFORE
    the Arrow crossing: only ~1/4 of pages carry a table, so 3/4 of the
    corpus never reaches python. Safe because real '<' in text content is
    entity-escaped by the generator; the python side still does the exact
    block classification."""
    from pyspark.sql import functions as F

    from ..io.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    tables = pages.select("url", "html").filter(F.col("html").cast("string").contains("<table"))
    return map_rows(tables, table_cells_for_page, TABLE_CELLS_SCHEMA)


# cell x-pitch = IMAGE_W/8 = 64, y-pitch = IMAGE_H/4 = 64 — exact integers.
# Variable structure: nr = min(1 + (doc_id // 4) % 4, nw) rows; base = nw // nr
# cells per row, the first (nw % nr) rows take one extra (io/synth.table_rows).
# Cell i's (row, col): the first ex rows hold (bs+1) cells each, so
#   i <  ex*(bs+1): row = i // (bs+1),       col = i % (bs+1)
#   i >= ex*(bs+1): row = ex + rest // bs,   col = rest % bs   (rest = i - ex*(bs+1))
# Decoded token count = nw cells + 2*nr row tags + 6 html wrappers.
TABLE_CELLS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {CHUNKS_SQL} AS chunks
  FROM documents
),
t AS (
  SELECT doc_id, {LAST_WORDS_SQL} AS lw
  FROM d
  WHERE {RENDERS_TABLE_SQL}
),
shape AS (
  SELECT doc_id, len(lw) AS nw, {TABLE_ROW_COUNT_SQL} AS nr
  FROM t
),
cells AS (
  SELECT doc_id, nw, nr, nw // nr AS bs, nw % nr AS ex,
         unnest(range(0, nw)) AS i
  FROM shape
),
g AS (
  SELECT doc_id, nw, nr, CAST(i AS INT) AS cell_id,
         CAST(CASE WHEN i < ex * (bs + 1) THEN i // (bs + 1)
                   ELSE ex + (i - ex * (bs + 1)) // bs END AS INT) AS row_id,
         CAST(CASE WHEN i < ex * (bs + 1) THEN i % (bs + 1)
                   ELSE (i - ex * (bs + 1)) % bs END AS INT) AS col_id
  FROM cells
)
SELECT {URL_SQL} AS url,
       cell_id, row_id, col_id,
       CAST(64 * col_id AS FLOAT) AS x1, CAST(64 * row_id AS FLOAT) AS y1,
       CAST(64 * (col_id + 1) AS FLOAT) AS x2, CAST(64 * row_id AS FLOAT) AS y2,
       CAST(64 * (col_id + 1) AS FLOAT) AS x3, CAST(64 * (row_id + 1) AS FLOAT) AS y3,
       CAST(64 * col_id AS FLOAT) AS x4, CAST(64 * (row_id + 1) AS FLOAT) AS y4,
       CAST(nw + 2 * nr + 6 AS INT) AS n_tokens
FROM g
"""
