"""TrOCR-style autoregressive recognition over page title regions,
distributed (R3 greedy generate + R6 batched incremental decode,
SURVEY.md §2.6; reference loop semantics /root/reference/src/models/trocr/impl.rs:51-140).

Model boundary: like the SVTR stub (pipeline/ocr.py), the encoder/decoder
is a deterministic teacher-forcing stub — step t's logits put their argmax
on the t-th character of the region's true text, with EOS after the last —
so the FULL greedy re-feed loop (argmax last position -> append -> re-run;
stop on EOS or max_steps) runs for real on every region and the decoded
string is independently checkable in SQL: the recognized region is each
page's first plain-text block == the first 8-word chunk of documents.text.

Both stop conditions are exercised and oracled: `transcript` stops on EOS
(full chunk), `capped_transcript` stops at max_steps=16 (SQL: substr 1..16).
Batching (R6): sequences advance doc-at-a-time inside the Arrow batch —
the stub decoder is cheap; a real ONNX decoder would re-run the batch of
unfinished sequences per step exactly as trocr/impl.rs:74-121 does.

`sampled_transcript` runs the SAME loop through the R5 top-p sampler
(kernels/sampler.py, logits_sampler.rs:34-93 semantics) at temperature
0.05: the temperature-sharpened softmax makes the argmax token's nucleus
mass ~1-4e-7, so the p=0.9 nucleus collapses to a single candidate and
the sampled output provably equals the greedy one — which is what makes a
sampling path ORACLE-CHECKABLE at all. Non-degenerate temperatures (flat
nuclei, cumulative-weight draws) are exercised in tests/test_sampler.py.
"""

from __future__ import annotations

import numpy as np

from ..io.synth import URL_SQL
from ..kernels.boilerplate import classify_block, parse_blocks
from ..kernels.ocr import greedy_generate
from ..kernels.sampler import sample_topp, xorshift64s
from .crossing import map_rows

TROCR_SCHEMA = (
    "url string, transcript string, capped_transcript string, "
    "sampled_transcript string"
)

SAMPLE_P = 0.9
SAMPLE_TEMPERATURE = 0.05
SAMPLE_SEED = 0xD0C5EED


def sampled_generate(step_fn, start_token: int, eos_token: int,
                     max_steps: int, p: float, temperature: float,
                     seed: int) -> list[int]:
    """The greedy_generate loop with the top-p sampler as the token rule
    (trocr/impl.rs:74-121 + logits_sampler decode). Deterministic via the
    seeded uniform stream."""
    uniform = xorshift64s(seed)
    ids = [start_token]
    for _ in range(max_steps):
        logits = np.asarray(step_fn(ids), dtype=np.float32)
        nxt = sample_topp(logits[-1], p=p, temperature=temperature, uniform=uniform)
        if nxt == eos_token:
            break
        ids.append(nxt)
    return ids[1:]

PAD_ID, START_ID, EOS_ID = 0, 1, 2
VOCAB = ["<pad>", "<s>", "</s>"] + [chr(c) for c in range(0x20, 0x7F)]
_CHAR_TO_ID = {c: i for i, c in enumerate(VOCAB)}
CAP_STEPS = 16
MAX_STEPS = 4096  # above any possible chunk length


def _encode(text: str) -> list[int]:
    return [_CHAR_TO_ID.get(c, PAD_ID) for c in text]


def stub_decoder_step(target_ids: list[int]):
    """Teacher-forcing stub decoder: logits[t] one-hot on target[t]
    (EOS past the end). Stands in for the ONNX decoder session."""

    vsize = len(VOCAB)

    def step(ids: list[int]) -> np.ndarray:
        t = len(ids) - 1
        nxt = target_ids[t] if t < len(target_ids) else EOS_ID
        lg = np.zeros((len(ids), vsize), dtype=np.float32)
        lg[-1, nxt] = np.float32(0.95)
        return lg

    return step


def _decode_ids(ids: list[int]) -> str:
    return "".join(VOCAB[i] for i in ids if i > EOS_ID)


def _first_plain_text(html_bytes) -> str | None:
    if html_bytes is None:
        return None
    for blk in parse_blocks(bytes(html_bytes).decode("utf-8", errors="replace")):
        cls, _ = classify_block(blk)
        if cls == "plain text":
            return blk.text
    return None


def transcribe_page(url: str, html) -> list[tuple]:
    text = _first_plain_text(html)
    if text is None:
        return []
    step = stub_decoder_step(_encode(text))
    full = greedy_generate(step, START_ID, EOS_ID, max_steps=MAX_STEPS)
    capped = greedy_generate(step, START_ID, EOS_ID, max_steps=CAP_STEPS)
    sampled = sampled_generate(
        step, START_ID, EOS_ID, MAX_STEPS,
        SAMPLE_P, SAMPLE_TEMPERATURE, SAMPLE_SEED,
    )
    return [(url, _decode_ids(full), _decode_ids(capped), _decode_ids(sampled))]


def trocr_transcripts(spark, sf_dir: str):
    """pages -> one autoregressive transcript per page's first text region."""
    from ..io.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return map_rows(pages.select("url", "html"), transcribe_page, TROCR_SCHEMA)


TROCR_ORACLE = f"""
SELECT {URL_SQL} AS url,
       array_to_string((string_split(text, ' '))[1:8], ' ') AS transcript,
       substr(array_to_string((string_split(text, ' '))[1:8], ' '), 1, 16) AS capped_transcript,
       array_to_string((string_split(text, ' '))[1:8], ' ') AS sampled_transcript
FROM documents
"""
