"""Seeded input generator: the only inputs the program under test sees.

``generate(out_dir, n_docs, seed)`` writes every table the query
registry registers as a view (``documents`` plus small fixed side
tables) and a ``pages`` table of synthesized HTML, all as parquet.

What the seed controls, and what it does not:

- The corpus content (word sequences, lengths, languages, the 5%
  near-duplicate rows) is fixed, so every seed does the same amount of
  work and the duplicate structure the curation operators look for is
  the same.
- The seed picks the doc_id offset, the row order of every table, and
  which ~1% of pages carry a null ``html`` (a corrupt crawl record the
  pipeline must turn into an error row).
- Page files hold contiguous doc_id ranges (the seed orders rows within
  each file), so every file, and so every scan task, carries the same
  share of oversized pages whatever the seed.
- The offset is a multiple of ``CLASS_PERIOD``, the least common
  multiple of every doc_id modulus the page synthesizer keys on, so the
  oversized (1/47), two-column (1/3) and table (1/4) shares are the
  same for every seed.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from usls_doc_spark.io.synth import (
    SKEW_MOD,
    TABLE_MOD,
    TWOCOL_MOD,
    chunk_text,
    renders_table,
    synth_page,
)

# the corpus vocabulary and language mix of the documents table the
# registry's oracles were written against
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_SHARE = 0.05  # rows whose text is another row's text + " dup"
NULL_HTML_SHARE = 0.01
CONTENT_SEED = 42
# lcm of synth's doc_id moduli: SKEW_MOD, TWOCOL_MOD, TABLE_MOD (and the
# table row count's (doc_id // 4) % 4), the footer year (% 5) and the
# 20 documents.source values
CLASS_PERIOD = math.lcm(SKEW_MOD, TWOCOL_MOD, TABLE_MOD * 4, 5, 20)
PAGE_FILES = 16

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def doc_id_offset(seed: int) -> int:
    return CLASS_PERIOD * (1 + seed % 997)


def _corpus(n_docs: int) -> tuple[list[str], list[str]]:
    """Seed-independent texts and languages, row i of the corpus."""
    rng = np.random.default_rng(CONTENT_SEED)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(VOCAB[w] for w in words[e - n : e]) for e, n in zip(ends, lengths)
    ]
    n_dup = int(n_docs * NEAR_DUP_SHARE)
    dup_rows = rng.choice(n_docs, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dup_rows)
    for row, src in zip(dup_rows, rng.choice(originals, n_dup)):
        texts[row] = texts[src] + " dup"
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return texts, langs


def documents(n_docs: int, seed: int) -> pa.Table:
    texts, langs = _corpus(n_docs)
    perm = np.random.default_rng(seed).permutation(n_docs)
    doc_ids = doc_id_offset(seed) + perm
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": [texts[i] for i in perm],
            "lang": [langs[i] for i in perm],
            "source": [f"src{d % 20}" for d in doc_ids],
            "n_chars": pa.array([len(texts[i]) for i in perm], pa.int64()),
        }
    )


def null_html_doc_ids(docs: pa.Table, seed: int) -> set[int]:
    ids = docs.column("doc_id").to_numpy()
    n_null = max(1, round(len(ids) * NULL_HTML_SHARE))
    rng = np.random.default_rng([seed, 1])
    return {int(d) for d in rng.choice(ids, n_null, replace=False)}


def pages(docs: pa.Table, null_ids: set[int]) -> pa.Table:
    rows = [
        synth_page(d, t, lg)
        for d, t, lg in zip(
            docs.column("doc_id").to_pylist(),
            docs.column("text").to_pylist(),
            docs.column("lang").to_pylist(),
        )
    ]
    for r, d in zip(rows, docs.column("doc_id").to_pylist()):
        if d in null_ids:
            r["html"] = None
    return pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA)


def _side_tables() -> dict[str, pa.Table]:
    """Small fixed tables with the schemas the registry's views expect.
    No benchmarked query reads them; they exist so view registration,
    which binds every table, succeeds."""
    n = 25
    k = np.arange(n)
    day = dt.datetime(2024, 1, 1)
    return {
        "region": pa.table({"r_regionkey": pa.array(k[:5], pa.int32()),
                            "r_name": [f"REGION_{i}" for i in k[:5]]}),
        "nation": pa.table({"n_nationkey": pa.array(k, pa.int32()),
                            "n_name": [f"NATION_{i}" for i in k],
                            "n_regionkey": pa.array(k % 5, pa.int32())}),
        "customer": pa.table({"c_custkey": pa.array(k, pa.int64()),
                              "c_name": [f"Customer#{i:09d}" for i in k],
                              "c_nationkey": pa.array(k % 25, pa.int32()),
                              "c_acctbal": pa.array(k * 100.25, pa.float64()),
                              "c_mktsegment": ["MACHINERY"] * n}),
        "supplier": pa.table({"s_suppkey": pa.array(k, pa.int64()),
                              "s_name": [f"Supplier#{i:09d}" for i in k],
                              "s_nationkey": pa.array(k % 25, pa.int32()),
                              "s_acctbal": pa.array(k * 50.5, pa.float64())}),
        "part": pa.table({"p_partkey": pa.array(k, pa.int64()),
                          "p_name": ["small widget"] * n,
                          "p_brand": [f"Brand#{i % 20}" for i in k],
                          "p_type": ["PROMO"] * n,
                          "p_size": pa.array(k % 50, pa.int32()),
                          "p_retailprice": pa.array(900.0 + k, pa.float64())}),
        "orders": pa.table({"o_orderkey": pa.array(k, pa.int64()),
                            "o_custkey": pa.array(k, pa.int64()),
                            "o_orderstatus": ["F"] * n,
                            "o_totalprice": pa.array(k * 1000.5, pa.float64()),
                            "o_orderdate": pa.array([day] * n, pa.timestamp("us")),
                            "o_orderpriority": ["3-MEDIUM"] * n}),
        "lineitem": pa.table({"l_orderkey": pa.array(k, pa.int64()),
                              "l_partkey": pa.array(k, pa.int64()),
                              "l_suppkey": pa.array(k, pa.int64()),
                              "l_linenumber": pa.array(k % 7, pa.int32()),
                              "l_quantity": pa.array(k + 1.0, pa.float64()),
                              "l_extendedprice": pa.array(k * 10.5, pa.float64()),
                              "l_discount": pa.array([0.05] * n, pa.float64()),
                              "l_tax": pa.array([0.02] * n, pa.float64()),
                              "l_returnflag": ["N"] * n,
                              "l_linestatus": ["O"] * n,
                              "l_shipdate": pa.array([day] * n, pa.timestamp("us"))}),
        "events": pa.table({"event_id": pa.array(k, pa.int64()),
                            "ts": pa.array([day + dt.timedelta(minutes=int(i)) for i in k],
                                           pa.timestamp("us")),
                            "user_id": pa.array(k % 5, pa.int64()),
                            "event_type": ["view"] * n,
                            "value": pa.array(k * 1.5, pa.float64()),
                            "props": ['{"k": 0}'] * n}),
        "embeddings": pa.table({"vec_id": pa.array(k, pa.int64()),
                                "embedding": pa.array([[float(i), 1.0] for i in k],
                                                      pa.list_(pa.float32())),
                                "label": pa.array(k % 3, pa.int32())}),
    }


def page_classes(docs: pa.Table) -> dict[str, float]:
    """Shares of the page populations the pipeline treats differently."""
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    n = len(ids)
    return {
        "oversized_share": sum(d % SKEW_MOD == 0 for d in ids) / n,
        "two_column_share": sum(d % TWOCOL_MOD == 1 for d in ids) / n,
        "table_share": sum(renders_table(d, chunk_text(t)) for d, t in zip(ids, texts)) / n,
    }


def generate(out_dir: str, n_docs: int, seed: int, with_pages: bool = True) -> dict:
    """Write the seeded tables under ``out_dir``; return what was made."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(n_docs, seed)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    for name, table in _side_tables().items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    stats = {
        "docs": n_docs,
        "text_mb": sum(len(t.encode()) for t in docs.column("text").to_pylist()) / 1e6,
        **page_classes(docs),
    }
    if with_pages:
        null_ids = null_html_doc_ids(docs, seed)
        table = pages(docs, null_ids)
        os.makedirs(f"{out_dir}/pages", exist_ok=True)
        rng = np.random.default_rng([seed, 3])
        by_id = np.argsort(docs.column("doc_id").to_numpy())
        for i, rows in enumerate(np.array_split(by_id, PAGE_FILES)):
            pq.write_table(table.take(rng.permutation(rows)),
                           f"{out_dir}/pages/part-{i:03d}.parquet")
        html = table.column("html").to_pylist()
        stats["html_mb"] = sum(len(h) for h in html if h is not None) / 1e6
        stats["null_html"] = len(null_ids)
        stats["null_html_ids"] = sorted(null_ids)
    return stats
