"""Generate committed golden extraction fixtures (FIXTURES.md §2).

Runs the extraction kernels directly (no Spark) over the deterministic
synthetic pages for sf0.001, asserting the independent per-row invariant
(extracted_text == "Doc {doc_id} " + documents.text and the independently
computable block-count formula) before snapshotting the full output —
so the fixture is anchored to generator-derivable truth, not merely to
"whatever the pipeline produced".

Usage: python scripts/gen_fixtures.py
"""

from __future__ import annotations

import json
import pathlib
import sys

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from usls_doc_spark.io.synth import CHUNK_WORDS, SKEW_MOD, synth_page
from usls_doc_spark.kernels.stub_layout import StubLayoutModel
from usls_doc_spark.pipeline.extract import extract_rows

OUT = pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "golden_extractions_sf0.001.json"


def expected_n_blocks(doc_id: int, text: str) -> int:
    n_chunks = (len(text.split(" ")) + CHUNK_WORDS - 1) // CHUNK_WORDS
    # title + chunks (+ the kept-abandon oversized sidebar block on skew pages)
    return 1 + n_chunks + (1 if doc_id % SKEW_MOD == 0 else 0)


def main() -> None:
    docs = duckdb.sql(
        "SELECT doc_id, text, lang FROM '/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    model = StubLayoutModel()
    rows = []
    for doc_id, text, lang in docs:
        page = synth_page(doc_id, text, lang)
        res = extract_rows([page["html"]], [page["url"]], model)[0]
        expect_text = f"Doc {doc_id} {text}"
        assert res["error"] is None, (doc_id, res["error"])
        assert res["extracted_text"] == expect_text, doc_id
        assert res["n_blocks"] == expected_n_blocks(doc_id, text), doc_id
        res["blocks"] = [
            {k: (float(v) if k == "conf" else v) for k, v in b.items()} for b in res["blocks"]
        ]
        rows.append(res)
    OUT.write_text(json.dumps(rows, indent=None, separators=(",", ":")) + "\n")
    print(f"wrote {len(rows)} fixtures -> {OUT}")


if __name__ == "__main__":
    main()
