"""spark-submit entry point for the extraction job (north rule: "launched
via spark-submit --py-files on multi-executor clusters").

Usage:
    zip -r usls_doc_spark.zip usls_doc_spark
    spark-submit --py-files usls_doc_spark.zip \\
        scripts/submit_extraction.py \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/extract_out \\
        [--run-id r1] [--n-buckets 64] [--copies 1]

The zip carries the C source of the HTML block parser
(usls_doc_spark/kernels/_blockparse.c); the first import on each host
compiles it with gcc into ~/.cache/usls_doc_spark, so every host needs gcc
and the Python headers, and a host without them fails the import loudly.

On a real cluster, pass --master/--num-executors etc. to spark-submit; the
job itself is cluster-agnostic (everything is partition-count independent
and resumable — re-running after a failure completes only remaining
buckets, see usls_doc_spark/pipeline/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="dir with documents.parquet")
    ap.add_argument("--out", required=True, help="output root (extracted/bucket=*/, _checkpoint/)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--copies", type=int, default=1)
    ap.add_argument("--pages-parquet", default=None,
                    help="read an existing pages table instead of synthesizing")
    args = ap.parse_args()

    from usls_doc_spark.session import build_session

    spark = build_session()

    from usls_doc_spark.io.synth import pages_from_documents
    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    else:
        pages = pages_from_documents(spark, args.sf_dir, copies=args.copies)
    summary = run_extraction_job(
        spark, pages, args.out, run_id=args.run_id, n_buckets=args.n_buckets
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
