"""The flagship pipeline: pages -> layout regions -> reading order -> text.

Spark-first re-expression of the reference's ``detect_documents``
(/root/reference/src/docstructbench.rs:34-116) extended per the north rule:

  scan(pages)                      # parquet/Iceberg scan; Catalyst prunes to
                                   # (url, html) when only extraction is needed
  -> mapInPandas(extract_batch)    # one Arrow batch per call: DOM parse,
                                   # flow-layout model head, decode (L2-L7),
                                   # abandon-filter + i32 round (L12),
                                   # XY-cut reading order, span assembly
                                   # (its own batch kernel, not
                                   # crossing.map_batches: columnar
                                   # output, per-task model, stage
                                   # retry, elapsed_us)
  -> downstream DataFrame ops      # filters/aggregations/joins stay JVM-side

Everything per-page is local to the UDF (no shuffle); the only cross-node
boundaries are the scan and whatever aggregation the caller adds
(SURVEY.md §3.1 "Boundaries").

Failure semantics follow DataLoader::try_read (dataloader.rs:376-383): a
corrupt row yields a null extraction + error column, never a job failure —
and stays keyed by url (the reference's path↔image zip misalignment at
docstructbench.rs:74 is a bug we do NOT replicate; SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..kernels.boilerplate import TEXTUAL_CLASSES, parse_blocks
from ..kernels.stub_layout import StubLayoutModel, infer_pages_batched
from ..kernels.xycut import xycut_order
from ..kernels.yolo_decode import abandon_filter_and_round, decode_preds_batched

# Output schema of the extraction stage (DDL string for mapInPandas).
# elapsed_us is this row's share of its Arrow batch's processing time — the
# per-stage profiling the reference keeps in its Ts accumulator
# (src/misc/ts.rs:5-20,49-112), carried as data so per-partition lineage can
# aggregate it without a second pass.
_FIELD_TYPES = {
    "url": "string",
    "extracted_text": "string",
    "n_blocks": "int",
    "extracted_bytes": "bigint",
    "blocks": "array<struct<x:int,y:int,width:int,height:int,cls:string,conf:float,order:int>>",
    "error": "string",
    "elapsed_us": "bigint",
}
EXTRACT_SCHEMA = ", ".join(f"{c} {t}" for c, t in _FIELD_TYPES.items())

SEP = " "  # span-assembly separator (STRING_AGG parity; SURVEY.md §2.8)


def _error_row(url: str, e: Exception) -> dict:
    """The one error row: null extraction + message (S3 skip-unreadable)."""
    return {
        "url": url,
        "extracted_text": None,
        "n_blocks": 0,
        "extracted_bytes": 0,
        "blocks": [],
        "error": f"{type(e).__name__}: {e}"[:500],
    }


def _assemble_page(url: str, blocks, decoded) -> dict:
    """Abandon-filter + XY-cut + span assembly over one decoded page."""
    kept = abandon_filter_and_round(decoded)
    if kept:
        boxes = np.asarray([[b["x"], b["y"], b["width"], b["height"]] for b in kept])
        order = xycut_order(boxes)
    else:
        order = np.empty(0, dtype=np.int64)
    out_blocks = []
    texts = []
    for rank, bi in enumerate(order):
        b = kept[int(bi)]
        block_idx = b["id_born"] // 2  # stub emits 2 anchors per block
        out_blocks.append(
            {
                "x": b["x"],
                "y": b["y"],
                "width": b["width"],
                "height": b["height"],
                "cls": b["cls"],
                "conf": np.float32(b["conf"]),
                "order": rank,
            }
        )
        if b["cls"] in TEXTUAL_CLASSES and block_idx < len(blocks):
            texts.append(blocks[block_idx].text)
    extracted = SEP.join(texts)
    return {
        "url": url,
        "extracted_text": extracted,
        "n_blocks": len(out_blocks),
        "extracted_bytes": len(extracted.encode("utf-8")),
        "blocks": out_blocks,
        "error": None,
    }


_TWO_COL_MARKER = '<meta name="layout" content="two-column"'


def _run_stage(stage, pages: list[int]) -> dict:
    """Run ``stage`` (page indices -> one output per page) over ``pages``;
    returns {page: output, or the exception that page raised}. A raise on
    a batch of several pages re-runs each page as a one-element batch
    through the same stage, so one pathological page errors alone instead
    of failing the Arrow batch (S3 skip-unreadable semantics)."""
    try:
        return dict(zip(pages, stage(pages)))
    except Exception as e:
        if len(pages) == 1:
            return {pages[0]: e}
        return {p: out for q in pages for p, out in _run_stage(stage, [q]).items()}


def extract_rows(htmls, urls, model: StubLayoutModel) -> list[dict]:
    """One Arrow batch of pages -> extraction rows. Pure function of each
    (html, url) — deterministic, and the same row whatever batch the page
    arrives in. Parse is per page (its state machine is row-local); the
    stub inference (kernels/stub_layout.infer_pages_batched) and the YOLO
    decode (kernels/yolo_decode.decode_preds_batched) each run once over
    all the batch's live pages. A page that fails any stage becomes its
    own error row (_run_stage); the rest of the batch still extracts."""
    errors: dict[int, Exception] = {}
    blocks, two_col = {}, {}
    for i, h in enumerate(htmls):
        try:
            if h is None:
                raise ValueError("null html")
            html = bytes(h).decode("utf-8", errors="replace")
            blocks[i] = parse_blocks(html)
            # two-column rendering is a property of the page, not the
            # pipeline: the stub model reads it from a meta marker the
            # generator embeds; real pages rasterize however they rasterize.
            two_col[i] = _TWO_COL_MARKER in html
        except Exception as e:
            errors[i] = e

    def live(outs: dict) -> list[int]:
        errors.update((p, o) for p, o in outs.items() if isinstance(o, Exception))
        return [p for p in outs if p not in errors]

    inferred = _run_stage(
        lambda ps: infer_pages_batched(
            model, [blocks[p] for p in ps], [two_col[p] for p in ps]
        ),
        list(blocks),
    )
    decoded = _run_stage(
        lambda ps: decode_preds_batched(
            [inferred[p][0] for p in ps], [inferred[p][1] for p in ps],
            names=model.names, confs=(0.4,), apply_nms=True,
        ),
        live(inferred),
    )
    rows = _run_stage(
        lambda ps: [_assemble_page(urls[p], blocks[p], decoded[p]) for p in ps],
        live(decoded),
    )
    live(rows)
    return [
        _error_row(u, errors[i]) if i in errors else rows[i]
        for i, u in enumerate(urls)
    ]


def _extract_batch_fn(cols: list[str]):
    """mapInPandas body emitting exactly ``cols``. The model is constructed
    once per task (the lazy-singleton pattern of engine.rs:76-145; the
    stub has no weights)."""
    import time

    data_cols = [c for c in cols if c != "elapsed_us"]

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = StubLayoutModel()
        for pdf in batches:
            t0 = time.monotonic_ns()
            rows = extract_rows(
                pdf["html"].to_numpy(), pdf["url"].to_numpy(), model
            )
            share = ((time.monotonic_ns() - t0) // 1000) // max(len(rows), 1)
            out = pd.DataFrame(
                [[r[c] for c in data_cols] for r in rows], columns=data_cols
            )
            if "elapsed_us" in cols:
                out["elapsed_us"] = share
            yield out

    return extract_batch


def extract_pages(pages_df, columns: list[str] | None = None):
    """pages DataFrame -> extraction DataFrame (lazy; no action triggered).

    Selects only (url, html) first so the parquet scan prunes columns
    (ReadSchema shows 2 of 5 columns — SURVEY.md §4 'free from Catalyst').

    ``columns`` is the UDF-boundary analogue of column pruning: Catalyst
    cannot prune THROUGH an opaque mapInPandas stage, so a caller that only
    needs (url, extracted_text) passes them here and the heavy ``blocks``
    struct array never crosses the Arrow JVM<->Python boundary at all.
    """
    if columns is None:
        cols = list(_FIELD_TYPES)
    else:
        unknown = set(columns) - set(_FIELD_TYPES)
        if unknown:
            raise ValueError(f"unknown extract columns: {sorted(unknown)}")
        cols = [c for c in _FIELD_TYPES if c in set(columns)]
    schema = ", ".join(f"{c} {_FIELD_TYPES[c]}" for c in cols)
    return pages_df.select("url", "html").mapInPandas(
        _extract_batch_fn(cols), schema=schema
    )
