"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...,
   "input_mb_per_sec": ...}

The extraction pipeline is the headline number (docs/sec + MB/sec per the
north rule); the relational/dedup/similarity queries cover the rest of the
operator inventory. Every query is forced end-to-end with the noop sink
(full materialization, no collect-to-driver cost).
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
COPIES = int(os.environ.get("SPARK_GRAFT_COPIES", "10"))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q6_revenue_delta",
    "q4_priority_semi",
    "q17_small_quantity",
    "top_customers_per_segment",
    "orders_running_total",
    "events_sessionize",
    "events_tumbling_window",
    "asof_join_purchases",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "fingerprint_simhash",
    "fingerprint_rolling_hash",
    "lang_detect_stopwords",
    "ann_topk_cosine",
    "ann_lsh_buckets",
    "ann_ivf_probe",
    "corpus_curation",
    "ocr_spans",
    "raster_ocr_regions",
    "raster_ocr_spans",
    "raster_layout_blocks",
    "raster_extract_text",
    "trocr_transcripts",
    "layout_instances",
    "table_cells",
    "multimodal_features",
    # round-4 web-curation family (+ round-5 agg variant; paragraph_dedup
    # and inverted_index are the round-5 skew-safe rewrites)
    "url_canonicalize",
    "url_canonicalize_agg",
    "paragraph_dedup",
    "stratified_sample",
    "inverted_index",
    "tfidf_top_terms",
    "pii_redact",
    "host_graph_pagerank",
    "ngram_counts",
    "line_freq_filter",
    "hll_distinct_chunks",
    "bloom_dedup_probe",
    "cms_heavy_hitters",
    "priority_sample_weighted",
    "token_quantiles",
    "cdc_upsert_compact",
    "zorder_cluster",
    "dup_window_fraction",
    "multimodal_frame_sample",
    "funnel_conversion",
    "cohort_retention",
    # round-6 additions: training-mix planning + crawl-frontier lens
    "domain_mix_weights",
    "bpe_merge_step",
    "kmeans_lloyd_step",
    "anchor_text_agg",
    "robots_policy_filter",
    "events_hopping_window",
    # round-7 additions
    "kmeans_ivf_build",
    "dup_char_kgram_fraction",
    "lm_bigram_fluency",
    "dedup_semantic_cells",
    "export_roundtrip",
]

# Streaming surface (round-5 VERDICT item 5): each callable drains a full
# Structured Streaming run (readStream -> foreachBatch parquet sink) and
# returns the sink read-back, so the timing covers trigger scheduling,
# state management, and the sink write — the parts a streaming regression
# would live in. Timed ONCE each (the JVM is warm after the batch suite,
# and a drain already spans many micro-batches, so per-run jitter is
# amortized inside the measurement rather than across runs).
STREAMING_BENCH = [
    "streaming_extract_text",
    "streaming_events_window",
    "streaming_dedup_exact",
    "streaming_sessionize",
    "streaming_enrich_events",
    "streaming_cms_sketch",
    "streaming_click_attribution",
    "streaming_click_attribution_outer",
    "streaming_click_attribution_full",
    "streaming_events_hopping",
    "streaming_dedup_minhash",
]


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def main() -> None:
    # Pin the whole process tree (driver -> JVM -> python workers inherit
    # the affinity mask) to exactly CPUS cores: local[N] only bounds task
    # threads, and JVM scan/GC/Arrow threads spilling onto spare cores
    # otherwise inflate small-N numbers and add 2-4x host-noise swings
    # (round-2 VERDICT item 9; same rationale as scripts/bench_scaling.py).
    try:
        import os as _os

        avail = sorted(_os.sched_getaffinity(0))
        _os.sched_setaffinity(0, set(avail[:CPUS]))
        pinned = len(avail[:CPUS])
    except (AttributeError, OSError):
        pinned = 0
    load_before = _loadavg()

    from pyspark.sql import functions as F

    from usls_doc_spark.session import build_session

    spark = build_session(
        f"local[{CPUS}]",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        ui=False,
        log_level="ERROR",
    )

    from usls_doc_spark.io.synth import pages_from_documents
    from usls_doc_spark.pipeline.extract import extract_pages
    from usls_doc_spark.queries import build_registry

    queries, _ = build_registry()
    timings: dict[str, float] = {}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Each measurement is the MIN of two runs (the first doubles as the
    # warmup): this sandbox's wall clock carries minute-scale host noise
    # that can inflate a single run 10-40x (see BENCH/BASELINE.md method
    # notes); the fastest observed run approximates the uncontended machine.
    def timed_warm(thunk) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            thunk()
            best = min(best, time.monotonic() - t0)
        return best

    # --- headline: extraction throughput --------------------------------
    # many waves per core: skew pages are ~80x median weight, so coarse
    # partitions leave straggler idle-tails (see scripts/bench_scaling.py)
    pages = pages_from_documents(spark, SF_DIR, copies=COPIES, n_partitions=CPUS * 16)
    pages.persist()
    stats = pages.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.octet_length("html")).alias("b")
    ).collect()[0]
    n_docs, html_bytes = stats["n"], stats["b"]
    t_extract = timed_warm(lambda: noop(extract_pages(pages)))
    timings["extraction_pipeline"] = round(t_extract, 3)
    pages.unpersist()

    # --- operator suite ---------------------------------------------------
    for name in BENCH_QUERIES:
        timings[name] = round(timed_warm(lambda: noop(queries[name](spark, SF_DIR))), 3)

    # --- streaming suite (single drained run each; see STREAMING_BENCH) ---
    for name in STREAMING_BENCH:
        t0 = time.monotonic()
        noop(queries[name](spark, SF_DIR))
        timings[name] = round(time.monotonic() - t0, 3)

    # --- terminal export sink (split_and_pack -> sharded JSONL + manifest;
    # the one registry surface that was bench-invisible before round 6) ---
    import shutil
    import tempfile

    from usls_doc_spark.io.export import export_from_sf

    export_dir = tempfile.mkdtemp(prefix="bench_export_")
    try:
        t0 = time.monotonic()
        export_from_sf(spark, SF_DIR, export_dir)
        timings["export_jsonl_shards"] = round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(export_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    meta = {
        "metric": "headline suite wall time (extraction + operator queries)",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "cpus": CPUS,
        "extraction_docs": int(n_docs),
        "extraction_html_mb": round(html_bytes / 1e6, 1),
        "docs_per_sec": round(n_docs / t_extract, 1),
        "input_mb_per_sec": round(html_bytes / 1e6 / t_extract, 1),
        "pinned_cpus": pinned,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
    }
    # Full per-query map goes to a FILE; the stdout line stays compact so
    # the driver's stdout tail capture can never truncate it (round-6
    # VERDICT item 2: the 78-entry "queries" dict outgrew the capture and
    # BENCH_r06.json recorded parsed: null). The printed line keeps the
    # 10 most expensive queries plus per-family subtotals.
    full_path = pathlib.Path(__file__).resolve().parent / "BENCH" / "bench_full_latest.json"
    full_path.parent.mkdir(exist_ok=True)
    full_path.write_text(json.dumps({**meta, "queries": timings}, indent=1) + "\n")

    def family(name: str) -> str:
        if name.startswith("streaming_"):
            return "streaming"
        if name.startswith(("raster_", "ocr_", "trocr_", "extraction", "table_",
                            "layout_", "multimodal_")):
            return "pipeline"
        return "batch_sql"

    subtotals: dict[str, float] = {}
    for name, t in timings.items():
        subtotals[family(name)] = round(subtotals.get(family(name), 0.0) + t, 3)
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                **meta,
                "queries": top10,
                "family_subtotals": subtotals,
                "n_queries_timed": len(timings),
                "full_results": str(full_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
