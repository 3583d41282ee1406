"""Pixel-native layout path: the anchor-free pixel head + real yolo decode
(L2-L7, NMS duplicate collapse, L12 abandon filter) must match the
render-spec oracle bit-for-bit, and the decode behaviors must actually
trigger from pixels."""

import duckdb
import numpy as np
import pandas as pd

from tests.test_raster_ocr import UNRENDERABLE
from usls_doc_spark.pipeline.raster_layout import (
    detect_layout,
    pixel_head,
    raster_layout_oracle,
    render_layout_raster,
)


def _differential(docs):
    got = sorted(tuple(r) for d, t in docs for r in detect_layout(d, t))
    con = duckdb.connect(":memory:")
    con.register(
        "docs_src",
        pd.DataFrame([(d, t, "en") for d, t in docs], columns=["doc_id", "text", "lang"]),
    )
    con.sql("CREATE VIEW documents AS SELECT * FROM docs_src")
    want = sorted(tuple(r) for r in con.sql(raster_layout_oracle()).fetchall())
    assert got == want
    return got


def test_differential_bit_exact_all_classes():
    rows = _differential(
        [
            (0, " ".join(f"w{i}" for i in range(70))),  # 9 chunks: all 6 m-cases
            (1, "a " * 39 + "b"),
            (5, "normal words go here over eight tokens total plus tail"),
            *((10 + i, t) for i, t in enumerate(UNRENDERABLE)),  # geometry only
        ]
    )
    assert {r[5] for r in rows} >= {"title", "plain text", "table", "abandon", "figure_caption"}


def test_abandon_drop_happens_from_pixels():
    # 9-chunk doc: chunk k=5 is abandon/120 (conf 0.471 < 0.5) -> no row;
    # chunk k=3 is abandon/148 (0.580) -> kept as an abandon block
    rows = detect_layout(0, " ".join(f"w{i}" for i in range(70)))
    ys = {r[2]: r[5] for r in rows}
    assert 16 + 40 * 3 in ys and ys[16 + 40 * 3] == "abandon"  # kept
    assert 16 + 40 * 5 not in ys  # L12-dropped


def test_substride_miss_is_real_and_stated():
    # one-char last chunk at x0=16 (k%3=0 -> k=3? need k with x0 16 or 24):
    # 4 chunks of 8 words + single char -> k=3 has x0=16+4*(3%3)=16? k=3 -> x0=16
    text = " ".join(["w"] * 24 + ["z"])  # chunks: 8,8,8,1 -> k=3, x0=16, w=4
    rows = detect_layout(9, text)
    assert len(rows) == 3  # the 4px chunk at x0=16 has no stride-8 center
    _differential([(9, text)])


def test_nms_collapses_duplicate_anchors_to_first():
    text = " ".join(["word"] * 8)
    raster = render_layout_raster(4, text)
    preds = pixel_head(raster)
    fg_anchors = np.nonzero(preds[:, 4:].max(axis=1) > 0)[0]
    assert len(fg_anchors) > 10  # many interior cells fire...
    rows = detect_layout(4, text)
    assert len(rows) == 1  # ...one kept box
    assert rows[0][7] == fg_anchors[0]  # id_born = first anchor


def test_flow_layout_fast_path_ab():
    """A/B: the vectorized single-column flow must be bitwise-identical to
    the sequential loop (forced by a two_col=False / col_set-empty walk of
    the same reference algorithm) on real corpus pages and fuzz blocks."""
    import duckdb
    import numpy as np

    from usls_doc_spark.io.synth import synth_page
    from usls_doc_spark.kernels import boilerplate as bp
    from usls_doc_spark.kernels.stub_layout import (
        BLOCK_GAP,
        CHAR_W,
        CONTENT_W,
        LINE_H,
        MARGIN,
        PAGE_W,
        _block_box,
        flow_layout,
    )

    def reference_single_col(blocks):
        n = len(blocks)
        boxes = np.zeros((n, 4), dtype=np.float32)
        y = MARGIN
        for i, blk in enumerate(blocks):
            bx, by, bw, bh = _block_box(len(blk.text), MARGIN, y, CONTENT_W)
            y = by + bh + BLOCK_GAP
            boxes[i] = (bx, by, bw, bh)
        page_h = max(y - BLOCK_GAP + MARGIN, MARGIN * 2 + LINE_H)
        return boxes, int(page_h), PAGE_W

    def ab(blocks, classes):
        got_b, got_h, got_w = flow_layout(blocks, classes, two_col=False)
        ref_b, ref_h, ref_w = reference_single_col(blocks)
        assert (got_h, got_w) == (ref_h, ref_w)
        assert got_b.dtype == ref_b.dtype
        assert got_b.tobytes() == ref_b.tobytes()

    rows = duckdb.sql(
        "SELECT doc_id, text, lang FROM '/root/testdata/sf0.001/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    for doc_id, text, lang in rows:
        blocks = bp.parse_blocks(synth_page(doc_id, text, lang)["html"].decode())
        classes, _ = bp.classify_blocks(blocks)
        ab(blocks, classes)

    rng = np.random.default_rng(9)
    # small pages (loop path), threshold straddle (255/256/257), and
    # skew-page sizes (vector path)
    for m in [0, 1, 2, 255, 256, 257, 600, 2400] + [
        int(rng.integers(0, 60)) for _ in range(20)
    ]:
        blocks = []
        for _j in range(m):
            b = bp.Block(tag="p")
            b.text = "x" * int(rng.integers(0, 4000))
            blocks.append(b)
        ab(blocks, ["plain text"] * m)
    ab([], [])
