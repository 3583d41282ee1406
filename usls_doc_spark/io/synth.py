"""Deterministic Common-Crawl-style pages source (input_hint shape, exactly).

Synthesizes the ``pages`` table (url:string, warc_ts:timestamp, html:binary,
text:string, lang:string — BASELINE.json input_hint) from the driver's
read-only ``documents`` parquet. Pure function of (doc_id, text, lang): no
RNG state, no partition-order dependence, so the same doc yields the same
page bytes at any parallelism — the foundation of the byte-identical
invariant (FIXTURES.md §1-2).

Page anatomy (every element targets a specific pipeline gate):
  <nav> link list               -> abandon conf≈0.49 (dropped by L12 filter)
  skew pages (doc_id%47==0):    -> nav repeated 120x + one >2000-char sidebar
                                   block (abandon conf 0.55: KEPT as a block,
                                   excluded from text) + html 50-100x median
                                   (the skewed-oversized-HTML population the
                                   north rule requires salting for)
  <p class="morelink">          -> link-density 1.0, non-ancestor: conf 0.39,
                                   dropped at the decode conf gate (L6)
  <h1>Doc {id}</h1>             -> title
  <p> 8-word chunks of text     -> plain text; doc_id%3==1 pages are marked
                                   two-column (meta tag) to exercise XY-cut
  <footer>                      -> abandon, dropped

Invariant: extracted_text == "Doc {doc_id} " + text, byte-identical —
SQL-stateable as ``'Doc ' || doc_id || ' ' || text`` (the DuckDB oracle).
"""

from __future__ import annotations

import datetime as dt
import html as html_mod

import numpy as np

from ..pipeline.crossing import adaptive_partitions, map_rows

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
CHUNK_WORDS = 8
SKEW_MOD = 47  # doc_id % 47 == 0 -> oversized page
TWOCOL_MOD = 3  # doc_id % 3 == 1 -> two-column layout
TABLE_MOD = 4  # doc_id % 4 == 2 -> last chunk rendered as a <table>

# the two page predicates above in DuckDB SQL, over doc_id
SKEW_SQL = f"doc_id % {SKEW_MOD} = 0"
TWOCOL_SQL = f"doc_id % {TWOCOL_MOD} = 1"


def url_for(doc_id: int) -> str:
    return f"https://example.org/doc/{doc_id:08d}"


# url_for in DuckDB SQL, over doc_id
URL_SQL = "'https://example.org/doc/' || lpad(CAST(doc_id AS VARCHAR), 8, '0')"


def chunk_text(text: str) -> list[str]:
    words = text.split(" ")
    return [" ".join(words[i : i + CHUNK_WORDS]) for i in range(0, len(words), CHUNK_WORDS)]


# chunk_text(text) in DuckDB SQL: the oracles' list of chunks per document
CHUNKS_SQL = (
    f"[array_to_string((string_split(text, ' '))[i:i+{CHUNK_WORDS - 1}], ' ') "
    f"for i in range(1, len(string_split(text, ' ')) + 1, {CHUNK_WORDS})]"
)


def renders_table(doc_id: int, chunks: list[str]) -> bool:
    """True when this page renders its LAST chunk as a table.

    Requires >= 2 chunks (so the first chunk stays a <p>: the TrOCR oracle's
    region) and >= 2 words in the last chunk (a 1-cell table is degenerate).
    The table's merged block text normalizes to exactly the last chunk, so
    extracted_text stays byte-identical to 'Doc {id} ' + text.
    """
    return (
        doc_id % TABLE_MOD == 2
        and len(chunks) >= 2
        and len(chunks[-1].split(" ")) >= 2
    )


def table_row_count(doc_id: int, n_words: int) -> int:
    """Row count of the rendered table: 1-4 rows derived from doc_id
    (round-2 VERDICT item 3 — variable structure, not a hardcoded 2),
    clamped so no row is empty."""
    return min(1 + (doc_id // TABLE_MOD) % 4, n_words)


# renders_table and table_row_count in DuckDB SQL: RENDERS_TABLE_SQL over
# doc_id and the chunk list `chunks` (CHUNKS_SQL); TABLE_ROW_COUNT_SQL over
# doc_id and the last chunk's word list `lw` (LAST_WORDS_SQL)
LAST_WORDS_SQL = "string_split(chunks[len(chunks)], ' ')"
RENDERS_TABLE_SQL = (
    f"(doc_id % {TABLE_MOD} = 2 AND len(chunks) >= 2 AND len({LAST_WORDS_SQL}) >= 2)"
)
TABLE_ROW_COUNT_SQL = f"least(1 + (doc_id // {TABLE_MOD}) % 4, len(lw))"


def table_rows(doc_id: int, words: list[str]) -> list[list[str]]:
    """Ragged row split: base = n // rows words per row; the first
    n % rows rows carry one extra word. Deterministic, all rows
    non-empty, concatenation preserves word order (the extracted-text
    invariant does not depend on the split)."""
    nr = table_row_count(doc_id, len(words))
    base, extra = divmod(len(words), nr)
    rows, i = [], 0
    for r in range(nr):
        ln = base + (1 if r < extra else 0)
        rows.append(words[i : i + ln])
        i += ln
    return rows


# ---------------------------------------------------------------------------
# pixel-native page rasters (round-2 VERDICT item 1): deterministic u8
# images whose glyph-box rectangles are an exact integer function of
# (doc_id, chunk index, chunk length) — THE render spec. The full D1-D7
# detect postprocess runs on these pixels, and the oracle re-states the
# resulting geometry from this spec alone, never from kernel output.
# ---------------------------------------------------------------------------

RASTER_MARGIN = 16  # exceeds the max unclip delta (< 0.75 * 19 = 14.25):
#                     no offset vertex ever clamps at the image border
RASTER_PITCH = 40  # vertical line pitch: >= 20px background between rects
RASTER_CELL = 4  # px per character
RASTER_VALUE = 230  # fill value -> prob 230/255 = 0.902 > binarize 0.2


def raster_spec(doc_id: int, text: str) -> list[tuple[int, int, int, int]]:
    """(x0, y0, w, h) of the glyph-box rectangle per text chunk. Pure
    integers; x varies with k % 3 and h with (doc_id + k) % 2 so the
    detect path sees non-constant geometry."""
    rects = []
    for k, chunk in enumerate(chunk_text(text)):
        rects.append(
            (
                RASTER_MARGIN + RASTER_CELL * (k % 3),
                RASTER_MARGIN + RASTER_PITCH * k,
                RASTER_CELL * len(chunk),
                16 + 4 * ((doc_id + k) % 2),
            )
        )
    return rects


# raster_spec's rect in DuckDB SQL: select items over doc_id, the chunk
# index k and the chunk length c
RASTER_SPEC_SQL = (
    f"{RASTER_MARGIN} + {RASTER_CELL} * (k % 3) AS x0, "
    f"{RASTER_MARGIN} + {RASTER_PITCH} * k AS y0, "
    f"{RASTER_CELL} * c AS w, 16 + 4 * ((doc_id + k) % 2) AS h"
)


GLYPH_BIAS = 100  # glyph column value = ord(char) + 100: printable ASCII ->
#                   132..226, all safely above binarize (0.2 * 255 = 51)


def glyph_row(chunk: str) -> np.ndarray:
    """The u8 pixel row of one chunk: each character a RASTER_CELL-wide
    column whose VALUE encodes it (ord + GLYPH_BIAS), so pixel-native
    recognition reads the text back from pixels alone. Only printable
    ASCII has a glyph value; anything else raises ValueError here rather
    than rendering a column the recognizer would read back as wrong text."""
    if not (chunk.isascii() and chunk.isprintable()):
        raise ValueError(f"chunk {chunk!r} holds a character outside printable ASCII")
    codes = np.frombuffer(chunk.encode("ascii"), dtype=np.uint8)
    return np.repeat(codes + GLYPH_BIAS, RASTER_CELL)


def render_raster(rects: list[tuple[int, int, int, int]], fills) -> np.ndarray:
    """Render a page spec to a u8 grayscale image sized to the rects'
    extent plus RASTER_MARGIN. Each rect is filled with its entry of
    ``fills``: a u8 value (a solid box) or a ``glyph_row`` (broadcast down
    the rect's rows). Every fill value survives binarization, so the detect
    mask is the same solid rectangle either way."""
    height = max(y0 + h for _x, y0, _w, h in rects) + RASTER_MARGIN
    width = max(x0 + w for x0, _y, w, _h in rects) + RASTER_MARGIN
    img = np.zeros((height, width), dtype=np.uint8)
    for (x0, y0, w, h), fill in zip(rects, fills):
        img[y0 : y0 + h, x0 : x0 + w] = fill
    return img


def synth_page(doc_id: int, text: str, lang: str) -> dict:
    """Build one page row. Deterministic in doc_id/text/lang alone."""
    esc = html_mod.escape
    two_col = doc_id % TWOCOL_MOD == 1
    skew = doc_id % SKEW_MOD == 0
    # skew pages: ~80x the median html size (north rule: "skewed oversized-
    # HTML keys are salted and repartitioned explicitly")
    nav_items = "".join(
        f'<li><a href="/cat/{k}">section {k} link</a></li>'
        for k in range(12 if not skew else 1200)
    )
    parts = [
        "<html><head>",
        f"<title>Doc {doc_id} - example.org</title>",
        '<meta name="layout" content="two-column"/>' if two_col else "",
        "</head><body>",
        f"<nav><ul>{nav_items}</ul></nav>",
    ]
    if skew:
        junk = " ".join(f"sponsored listing item {j} buy now limited offer" for j in range(1500))
        parts.append(f'<div class="sidebar"><p>{junk}</p></div>')
    parts.append('<p class="morelink"><a href="/more">read more stories here</a></p>')
    parts.append(f"<h1>Doc {doc_id}</h1>")
    chunks = chunk_text(text)
    as_table = renders_table(doc_id, chunks)
    body_chunks = chunks[:-1] if as_table else chunks
    for c in body_chunks:
        parts.append(f"<p>{esc(c)}</p>")
    if as_table:
        rows_html = "".join(
            "<tr>" + "".join(f"<td>{esc(w)}</td>" for w in row) + "</tr>"
            for row in table_rows(doc_id, chunks[-1].split(" "))
        )
        parts.append(f"<table>{rows_html}</table>")
    parts.append(
        f'<footer><p><a href="/about">about</a> <a href="/tos">terms</a> '
        f"copyright {2020 + doc_id % 5} example org</p></footer>"
    )
    parts.append("</body></html>")
    page_html = "".join(parts)
    # crawler-provided noisy plain text: nav junk + body (NOT the golden output)
    noisy = " ".join(["section link"] + [text] + ["about terms copyright"])
    return {
        "url": url_for(doc_id),
        "warc_ts": _EPOCH + dt.timedelta(seconds=int(doc_id) % 31_536_000),
        "html": page_html.encode("utf-8"),
        "text": noisy,
        "lang": lang,
    }


def _synth_row(doc_id: int, text: str, lang: str) -> list[tuple]:
    return [tuple(synth_page(doc_id, text, lang).values())]  # PAGES_SCHEMA order


def pages_from_documents(spark, sf_dir: str, copies: int = 1, n_partitions: int | None = None):
    """documents parquet -> pages DataFrame (lazy, distributed).

    ``copies`` > 1 replicates each doc under distinct doc_ids (bench-scale
    amplification); every copy keeps the per-url invariant. The source is
    hash-repartitioned on doc_id BEFORE the synth UDF so a single small
    parquet file (1 split) doesn't serialize page generation.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    if copies > 1:
        docs = docs.withColumn(
            "c", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
        ).select(
            (F.col("doc_id") + F.col("c") * F.lit(10_000_000)).alias("doc_id"), "text", "lang"
        )
    # Adaptive default (round 8, guide §2.2): the old fixed 8-waves-per-
    # core default (256 tasks on local[32]) cost ~1.4 s of pure task
    # overhead on a 5000-doc table (render 1.85 s at 256 partitions vs
    # 0.45 s at 32 — measured). Derive the count from input size with a
    # floor of 2 waves per core (the skew population — doc_id%47, ~80x
    # median html weight — still amortizes across waves) and the old 8x
    # as the ceiling for big inputs; bench-scale callers (bench.py)
    # still pass n_partitions explicitly.
    nparts = n_partitions or adaptive_partitions(
        spark, f"{sf_dir}/documents.parquet", size_mult=max(copies, 1)
    )
    return map_rows(docs.repartition(nparts, "doc_id"), _synth_row, PAGES_SCHEMA)
