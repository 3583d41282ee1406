"""Skew-evidence bench (round-5 VERDICT item 8): measure the skew-safe
rewrites on a HOT-KEY corpus vs a uniform corpus of identical size.

The four targets — paragraph_dedup, inverted_index, line_freq_filter,
dup_window_fraction — were rewritten in rounds 4-5 from per-key windows
into map-side-combinable hash aggregations precisely so that a hot key
(one boilerplate chunk shared by 50% of documents, whose words are then
also corpus-dominant terms and whose word sequence is a corpus-dominant
sliding window) collapses on the map side instead of funnelling every
occurrence through one reducer. Plan-shape tests assert the shape;
this bench measures the behavior.

Corpus construction (both written as parquet, same row count, same byte
volume, same chunk alignment — CHUNK_WORDS=8 so a 16-word prefix is
exactly two chunks):
  * skewed : COPIES replicas of the sf documents; docs with even doc_id
             get ONE SHARED 16-word boilerplate prefix -> that chunk pair
             appears in 50% of all documents (the C4/RefinedWeb
             boilerplate regime), its 16 words become the hottest terms,
             and its word sequence the hottest sliding windows.
  * uniform: identical, except the prefix is doc-UNIQUE (doc_id is woven
             into the prefix words), so key distributions stay flat.

Run:  python scripts/bench_skew.py [sf_dir] [copies]
Prints one JSON line per query: uniform sec, skewed sec, ratio.
A skew-safe plan holds ratio near 1; a per-key-window plan would
straggle on the 50%-hot key as copies grow.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
COPIES = int(sys.argv[2]) if len(sys.argv) > 2 else 10
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

TARGETS = [
    "paragraph_dedup",
    "inverted_index",
    "line_freq_filter",
    "dup_window_fraction",
]

HOT_PREFIX = (
    "this website uses cookies to improve your experience "
    "please accept our privacy policy to continue"
)  # 16 words == 2 aligned chunks, shared by HALF the skewed corpus

TABLES = (
    "region nation customer supplier part orders lineitem events embeddings"
).split()


def _build_corpus(spark, out_dir: str, skewed: bool) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = spark.range(COPIES).select(F.col("id").alias("rep"))
    base = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    if skewed:
        prefix = F.lit(HOT_PREFIX)
    else:
        # doc-unique 16-word prefix of identical byte shape: weave doc_id
        # into every other word so no two documents share the chunk pair
        did = F.col("doc_id").cast("string")
        words = [
            F.concat(F.lit(w), F.lit("x"), did) if i % 2 else F.lit(w)
            for i, w in enumerate(HOT_PREFIX.split())
        ]
        prefix = F.concat_ws(" ", *words)
    out = base.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.concat(prefix, F.lit(" "), F.col("text")))
        .otherwise(F.col("text")),
    ).withColumn("n_chars", F.length("text"))
    out.repartition(CPUS).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    # the other tables are untouched inputs: symlink them in
    for t in TABLES:
        link = pathlib.Path(out_dir) / f"{t}.parquet"
        if not link.exists():
            link.symlink_to(f"{SF_DIR}/{t}.parquet")


def main() -> None:
    try:
        avail = sorted(os.sched_getaffinity(0))
        os.sched_setaffinity(0, set(avail[:CPUS]))
    except (AttributeError, OSError):
        pass
    import tempfile

    from usls_doc_spark.session import build_session

    spark = build_session(f"local[{CPUS}]", driver_memory="48g", ui=False, log_level="ERROR")

    from usls_doc_spark.queries import build_registry

    queries, _ = build_registry()

    root = tempfile.mkdtemp(prefix="skew_bench_")
    dirs = {}
    for label in ("uniform", "skewed"):
        d = f"{root}/{label}"
        os.makedirs(d, exist_ok=True)
        _build_corpus(spark, d, skewed=(label == "skewed"))
        dirs[label] = d

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):  # min-of-2: first run doubles as warmup
            t0 = time.monotonic()
            noop(queries[name](spark, sf_dir))
            best = min(best, time.monotonic() - t0)
        return round(best, 3)

    n_docs = spark.read.parquet(f"{dirs['skewed']}/documents.parquet").count()
    results = {}
    for name in TARGETS:
        u = timed(name, dirs["uniform"])
        s = timed(name, dirs["skewed"])
        results[name] = {"uniform_s": u, "skewed_s": s,
                         "ratio": round(s / u, 2)}
        print(json.dumps({"query": name, **results[name]}), flush=True)
    print(json.dumps({
        "metric": "hot-key skew ratio (skewed/uniform wall, min-of-2)",
        "docs": n_docs, "copies": COPIES, "cpus": CPUS, "sf_dir": SF_DIR,
        "hot_chunk_share": 0.5, "results": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
