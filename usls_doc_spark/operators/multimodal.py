"""Multimodal binary-column plumbing: opaque media bytes + typed metadata,
decode/feature-extract per row through the Arrow-batched crossing
(pipeline/crossing.map_rows).

The reference decodes images via the `image` crate inside DataLoader
(/root/reference/src/misc/dataloader.rs:388-416, RGB8 forced) and resizes
via fast_image_resize (ops.rs:366-450). The image/audio libraries are not
in this container, so the DECODE step is a clearly-marked stub
(`decode_image`) with a deterministic fake feature extractor standing in —
the Spark-side plumbing (binary column, schema, batch shape, partitioning)
is real and tested. Swap `_fake_features` for a PIL/cv2 call in production.

Output columns are canonicalization-safe scalars (f0..f7, not an array
column — the driver's compare sorts on every column and a python list is
unhashable). Every output is a pure function of the synthesized page bytes,
so the DuckDB oracle (MULTIMODAL_ORACLE) reconstructs the exact html string
from `documents` via the same concatenation io/synth.py performs and states
each statistic in SQL over the per-byte code list. The reconstruction uses
ascii codepoints == bytes, valid because the synthesized pages are pure
ASCII (asserted in tests/test_multimodal.py).
"""

from __future__ import annotations

import math

import numpy as np

from ..io.synth import (
    CHUNKS_SQL,
    LAST_WORDS_SQL,
    RENDERS_TABLE_SQL,
    SKEW_SQL,
    TABLE_ROW_COUNT_SQL,
    TWOCOL_SQL,
    URL_SQL,
)
from ..pipeline.crossing import map_rows

N_FEATURES = 8

MULTIMODAL_SCHEMA = (
    "url string, n_bytes bigint, magic string, mean_byte double, n_frames int, "
    + ", ".join(f"f{j} float" for j in range(N_FEATURES))
)


def decode_image(data: bytes):  # pragma: no cover - documented stub
    """Real image decode (PIL/cv2) — unavailable in this environment."""
    raise NotImplementedError(
        "image decode requires PIL/cv2; use _fake_features for the "
        "deterministic test path"
    )


def _fake_features(arr: np.ndarray) -> np.ndarray:
    """Deterministic 8-dim 'embedding' from raw bytes: mean of each of 8
    byte-position strata. Stands in for a real conv feature extractor."""
    n = len(arr)
    if n == 0:
        return np.zeros(N_FEATURES, dtype=np.float32)
    pad = (-n) % N_FEATURES
    if pad:
        arr = np.concatenate([arr, np.zeros(pad, dtype=arr.dtype)])
    return arr.reshape(-1, N_FEATURES).mean(axis=0).astype(np.float32)


def media_features(url: str, data) -> list[tuple]:
    if data is None:
        return [(url, 0, "", 0.0, 0, *([0.0] * N_FEATURES))]
    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    return [
        (
            url,
            len(arr),
            bytes(data[:4]).hex(),
            float(arr.mean()) if len(arr) else 0.0,
            int(len(arr) // 4096) + 1,  # fake frame-sample count
            *[float(v) for v in _fake_features(arr)],
        )
    ]


def multimodal_features(spark, sf_dir: str):
    """pages(html binary) -> per-doc media metadata + stub features.

    Hash-checkable: MULTIMODAL_ORACLE restates every column in DuckDB SQL
    by rebuilding the synthesized page bytes from `documents`.
    """
    from ..io.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return map_rows(pages.select("url", "html"), media_features, MULTIMODAL_SCHEMA)


def _esc(expr: str) -> str:
    """html.escape(quote=True) as nested SQL replace, same substitution
    order as CPython (& first, then < > \" ')."""
    e = f"replace({expr}, '&', '&amp;')"
    e = f"replace({e}, '<', '&lt;')"
    e = f"replace({e}, '>', '&gt;')"
    e = f"replace({e}, '\"', '&quot;')"
    e = f"replace({e}, chr(39), '&#x27;')"
    return e


def _stratum(j: int) -> str:
    """Mean of bytes at positions ≡ j (mod 8), zero-padded to a multiple of
    8 rows — exactly numpy's reshape(-1, 8).mean(axis=0)[j] (integer sums
    are exact in both engines; single final division; round-to-float32)."""
    return (
        f"CAST(CAST(list_sum([cs[i] for i in range(1, len(cs) + 1) "
        f"if (i - 1) % 8 = {j}]) AS DOUBLE) / ((n + 7) // 8) AS FLOAT) AS f{j}"
    )


# Rebuild of io/synth.py synth_page(), piece by piece, in DuckDB SQL —
# shared by MULTIMODAL_ORACLE and FRAME_SAMPLE_ORACLE (ends at the
# `codes` CTE: per-doc html string + per-byte code list + length).
_PAGE_CODES_CTES = f"""
WITH src AS (
  SELECT doc_id, text,
         {TWOCOL_SQL} AS two_col,
         {SKEW_SQL} AS skew,
         {CHUNKS_SQL} AS chunks
  FROM documents
),
tsrc AS (
  SELECT doc_id, text, two_col, skew, chunks,
         {RENDERS_TABLE_SQL} AS has_table,
         {LAST_WORDS_SQL} AS lw
  FROM src
),
tshape AS (
  SELECT *, len(lw) // nr AS bs, len(lw) % nr AS ex
  FROM (SELECT *, {TABLE_ROW_COUNT_SQL} AS nr FROM tsrc)
),
page AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - example.org</title>'
    || CASE WHEN two_col THEN '<meta name="layout" content="two-column"/>' ELSE '' END
    || '</head><body><nav><ul>'
    || array_to_string(
         ['<li><a href="/cat/' || CAST(k AS VARCHAR) || '">section '
            || CAST(k AS VARCHAR) || ' link</a></li>'
          for k in range(0, CASE WHEN skew THEN 1200 ELSE 12 END)], '')
    || '</ul></nav>'
    || CASE WHEN skew THEN
         '<div class="sidebar"><p>' || array_to_string(
           ['sponsored listing item ' || CAST(j AS VARCHAR) || ' buy now limited offer'
            for j in range(0, 1500)], ' ') || '</p></div>'
       ELSE '' END
    || '<p class="morelink"><a href="/more">read more stories here</a></p>'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || array_to_string(['<p>' || {_esc("c")} || '</p>'
         for c in (CASE WHEN has_table THEN chunks[1:len(chunks) - 1] ELSE chunks END)], '')
    || CASE WHEN has_table THEN
         '<table>'
         || array_to_string(list_transform(range(0, nr), r ->
              '<tr>'
              || array_to_string(list_transform(
                   lw[r * bs + least(r, ex) + 1 :
                      r * bs + least(r, ex) + bs + CASE WHEN r < ex THEN 1 ELSE 0 END],
                   w -> '<td>' || {_esc("w")} || '</td>'), '')
              || '</tr>'), '')
         || '</table>'
       ELSE '' END
    || '<footer><p><a href="/about">about</a> <a href="/tos">terms</a> copyright '
    || CAST(2020 + doc_id % 5 AS VARCHAR)
    || ' example org</p></footer></body></html>' AS html
  FROM tshape
),
codes AS (
  SELECT doc_id, html,
         [ascii(c) for c in string_split(html, '')] AS cs,
         length(html) AS n
  FROM page
)"""

MULTIMODAL_ORACLE = f"""{_PAGE_CODES_CTES}
SELECT {URL_SQL} AS url,
       n AS n_bytes,
       lower(hex(encode(substr(html, 1, 4)))) AS magic,
       CAST(list_sum(cs) AS DOUBLE) / n AS mean_byte,
       CAST(n // 4096 + 1 AS INT) AS n_frames,
       {", ".join(_stratum(j) for j in range(N_FEATURES))}
FROM codes
"""


# ---------------------------------------------------------------------------
# Frame sampling: one input row fans OUT to K rows across the Arrow boundary
# ---------------------------------------------------------------------------

FRAME_BYTES = 1024  # fixed "frame" size over the opaque media payload
FRAME_SAMPLE_K = 4  # frames sampled per document (evenly strided)

FRAME_SAMPLE_SCHEMA = (
    "url string, frame_id int, frame_off bigint, frame_len bigint, "
    "mean_byte double, first_byte int"
)


def frame_samples(url: str, data) -> list[tuple]:
    """Fan-OUT: each media payload yields up to K sampled frame rows (the
    video frame-sample shape — dataloader.rs's images2mp4 consumer side
    would decode these). Frames are FRAME_BYTES slices; sampling is the
    deterministic even stride ceil(n_frames / K). A real deployment swaps
    the per-frame stats for a decoder call; the partitioning/batching/
    fan-out plumbing is what this operator tests."""
    if data is None or len(data) == 0:
        return []
    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    n_frames = math.ceil(len(arr) / FRAME_BYTES)
    step = math.ceil(n_frames / FRAME_SAMPLE_K)
    rows = []
    for fi in range(0, n_frames, step):
        off = fi * FRAME_BYTES
        fr = arr[off : off + FRAME_BYTES]
        # integer sum then ONE division: bit-identical to the oracle
        rows.append(
            (
                url,
                fi,
                off,
                len(fr),
                float(int(fr.sum(dtype=np.int64)) / len(fr)),
                int(fr[0]),
            )
        )
    return rows


def multimodal_frame_sample(spark, sf_dir: str):
    """pages(html binary) -> up to K strided frame rows per document."""
    from ..io.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return map_rows(pages.select("url", "html"), frame_samples, FRAME_SAMPLE_SCHEMA)


FRAME_SAMPLE_ORACLE = f"""{_PAGE_CODES_CTES},
frames AS (
  SELECT doc_id, cs, n,
         CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT) AS n_frames,
         CAST(ceil(ceil(n / {FRAME_BYTES}.0) / {FRAME_SAMPLE_K}.0) AS BIGINT)
           AS step
  FROM codes
)
SELECT {URL_SQL} AS url,
       CAST(fi AS INT) AS frame_id,
       fi * {FRAME_BYTES} AS frame_off,
       least(n - fi * {FRAME_BYTES}, {FRAME_BYTES}) AS frame_len,
       CAST(list_sum(cs[fi * {FRAME_BYTES} + 1 :
                        fi * {FRAME_BYTES} + least(n - fi * {FRAME_BYTES}, {FRAME_BYTES})])
            AS DOUBLE)
         / least(n - fi * {FRAME_BYTES}, {FRAME_BYTES}) AS mean_byte,
       cs[fi * {FRAME_BYTES} + 1] AS first_byte
FROM frames, unnest(range(0, n_frames, step)) AS t_fi(fi)
"""
