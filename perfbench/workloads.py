"""The workloads. Each is a closed loop: one client, one job at a
time. ``run_pass`` is the timed unit; ``after_pass`` and ``verify`` run
outside the timed region and only call the program's public functions
or read what it wrote."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from tests.oracle_utils import compare, duck_con
from usls_doc_spark.io.synth import url_for
from usls_doc_spark.pipeline.checkpoint import run_extraction_job
from usls_doc_spark.pipeline.extract import extract_pages
from usls_doc_spark.pipeline.raster_ocr import raster_extract_text
from usls_doc_spark.queries import build_registry

from gen import PAGE_FILES
from harness import Tracer

CURATION_CHAIN = (
    "url_canonicalize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "paragraph_dedup",
    "lm_bigram_fluency",
    "corpus_curation",
    "inverted_index",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_extraction(rows, expected: dict[str, str], null_urls: set[str]) -> int:
    """Mismatches between extraction rows (url, extracted_text, error) and
    the generator invariant extracted_text == 'Doc {id} ' + text. A null-html
    page is correct only as an error row. Missing, unknown and duplicate
    urls count too; the result is capped at the number of expected rows."""
    failed, seen = 0, set()
    for url, text, err in rows:
        if url in seen or url not in expected:
            failed += 1
            continue
        seen.add(url)
        if url in null_urls:
            failed += not (text is None and err is not None)
        else:
            failed += not (err is None and text == expected[url])
    failed += len(expected) - len(seen)
    return min(failed, len(expected))


class Workload:
    name = ""
    why = ""
    n_docs = 0
    with_pages = True
    # per-layer metric prefixes only this workload exercises; other
    # workloads report them as 0 (the layer is not called)
    owned: tuple[str, ...] = ()

    def __init__(self, spark, data_dir: str, stats: dict, tracer: Tracer, scratch: str):
        self.spark = spark
        self.data_dir = data_dir
        self.stats = stats
        self.tracer = tracer
        self.scratch = scratch
        self.tag = "warm"
        docs = pq.read_table(f"{data_dir}/documents.parquet").to_pydict()
        self.texts = dict(zip(docs["doc_id"], docs["text"]))

    @property
    def input_mb(self) -> float:
        return self.stats["html_mb"] if self.with_pages else self.stats["text_mb"]

    def _group(self, sub: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.tag}/{sub}", f"{self.tag}/{sub}")

    def run_pass(self) -> dict[str, float]:
        raise NotImplementedError

    def warm(self) -> None:
        """Fill the JVM's and the Python workers' caches before timing."""
        self.run_pass()

    def after_pass(self, timings: dict[str, float]) -> None:
        pass

    def verify(self) -> tuple[int, int]:
        """(attempted, failed) over the checked outputs."""
        raise NotImplementedError

    def layer_probe(self) -> tuple[dict[str, float], int, int]:
        """Traced runs only: extra layer metrics, with (attempted, failed)
        of the probe's own output checks."""
        return {}, 0, 0

    @property
    def pages(self) -> str:
        return f"{self.data_dir}/pages"

    def warm_files(self) -> list[str]:
        """A quarter of the page files: still one task per core, since
        the scan packs about one small file per task."""
        return [f"{self.pages}/{f}" for f in sorted(os.listdir(self.pages))[: PAGE_FILES // 4]]

    def expected_pages(self) -> tuple[dict[str, str], set[str]]:
        expected = {url_for(d): f"Doc {d} {t}" for d, t in self.texts.items()}
        return expected, {url_for(d) for d in self.stats["null_html_ids"]}


class HtmlExtract(Workload):
    name = "html_extract"
    why = ("flagship HTML extraction (parse, infer, decode, NMS, XY-cut) over a "
           "natural page mix with oversized and null-html pages; read path")
    n_docs = 5000
    owned = ("io.", "pipeline.checkpoint.")

    def _frame(self, files=None):
        with self.tracer.span("pipeline.extract.extract_pages"):
            return extract_pages(self.spark.read.parquet(*(files or [self.pages])))

    def run_pass(self, files=None) -> dict[str, float]:
        self._group("pass")
        df = self._frame(files)
        with self.tracer.span("spark.noop_write"):
            noop_write(df)
        return {}

    def warm(self) -> None:
        self.run_pass(self.warm_files())

    def verify(self) -> tuple[int, int]:
        self.tag = "verify"
        self._group("pass")
        rows = self._frame().select("url", "extracted_text", "error").collect()
        expected, null_urls = self.expected_pages()
        return len(expected), check_extraction(rows, expected, null_urls)

    def layer_probe(self) -> tuple[dict[str, float], int, int]:
        """The durable-write variant of the same extraction, for the io and
        checkpoint layers: one resumable_job pass over these pages."""
        job = ResumableJob(self.spark, self.data_dir, self.stats, self.tracer, self.scratch)
        job.tag = "probe"
        timings = job.run_pass()
        job.after_pass(timings)
        return (timings, *job.verify())


class ResumableJob(Workload):
    name = "resumable_job"
    why = ("checkpointed extraction job: half the buckets, resume, no-op resume; "
           "adds skew split, shuffle and partitioned parquet writes")
    n_docs = 1000
    n_buckets = 16
    owned = ("io.", "pipeline.checkpoint.")

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.n_pass = 0
        self.out_dir = ""
        self.legs: list[dict] = []

    def run_pass(self, files=None) -> dict[str, float]:
        self.n_pass += 1
        out = os.path.join(self.scratch, "jobs", f"{self.tag}-{self.n_pass}")
        pages = self.spark.read.parquet(*(files or [self.pages]))
        t, legs = {}, []
        for leg, cap in (("first_leg", self.n_buckets // 2),
                         ("resume_leg", None), ("noop_resume", None)):
            self._group(leg)
            with self.tracer.span(f"pipeline.checkpoint.run_extraction_job.{leg}"):
                t0 = time.perf_counter()
                legs.append(run_extraction_job(self.spark, pages, out,
                                               n_buckets=self.n_buckets, max_buckets=cap))
                t[f"pipeline.checkpoint.{leg}_s"] = time.perf_counter() - t0
        self.out_dir, self.legs = out, legs
        return t

    def warm(self) -> None:
        self.run_pass(self.warm_files())

    def after_pass(self, timings: dict[str, float]) -> None:
        files = nbytes = 0
        for dirpath, _dirs, names in os.walk(self.out_dir):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
        self.tracer.count("io.files_written", files)
        self.tracer.count("io.bytes_written", nbytes)
        timings["io.files_written"] = float(files)
        timings["io.write_mb"] = nbytes / 1e6
        timings["io.write_amp"] = nbytes / 1e6 / self.stats["html_mb"]
        # keep only the newest output for verification
        for d in os.listdir(os.path.dirname(self.out_dir)):
            path = os.path.join(os.path.dirname(self.out_dir), d)
            if path != self.out_dir:
                shutil.rmtree(path, ignore_errors=True)

    def verify(self) -> tuple[int, int]:
        table = ds.dataset(f"{self.out_dir}/extracted", format="parquet",
                           partitioning="hive").to_table(
            columns=["url", "extracted_text", "error"]).to_pydict()
        rows = zip(table["url"], table["extracted_text"], table["error"])
        expected, null_urls = self.expected_pages()
        failed = check_extraction(rows, expected, null_urls)
        ckpt = pq.read_table(f"{self.out_dir}/_checkpoint").to_pydict()
        done = {b for b, s in zip(ckpt["bucket"], ckpt["status"]) if s == "done"}
        first, resume, noop = self.legs
        failed += done != set(range(self.n_buckets))
        failed += len(first["buckets"]) != self.n_buckets // 2 or resume["skipped"]
        failed += not noop["skipped"]
        return len(expected) + 3, failed


class RasterOcr(Workload):
    name = "raster_ocr"
    why = ("pixel-native OCR (render, DB postprocess, XY-cut, CTC); never touches "
           "the HTML parser or YOLO decode")
    n_docs = 1000
    with_pages = False

    def _frame(self):
        with self.tracer.span("pipeline.raster_ocr.raster_extract_text"):
            return raster_extract_text(self.spark, self.data_dir)

    def run_pass(self) -> dict[str, float]:
        self._group("pass")
        df = self._frame()
        with self.tracer.span("spark.noop_write"):
            noop_write(df)
        return {}

    def verify(self) -> tuple[int, int]:
        self.tag = "verify"
        self._group("pass")
        rows = self._frame().select("doc_id", "extracted_text").collect()
        got = {r["doc_id"]: r["extracted_text"] for r in rows}
        failed = sum(got.get(d) != t for d, t in self.texts.items())
        failed += len(rows) - len(got) + len(set(got) - set(self.texts))
        return len(self.texts), min(failed, len(self.texts))


class CurationSql(Workload):
    name = "curation_sql"
    why = ("chain of eight registry curation operators over the documents table: "
           "Catalyst planning, shuffles and joins, little per-page Python")
    n_docs = 1000
    with_pages = False
    owned = ("operators.",)

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.queries, self.oracles = build_registry()

    def warm(self) -> None:
        # one cold chain leaves the next one still ~15% slow
        self.run_pass()
        self.run_pass()

    def run_pass(self) -> dict[str, float]:
        t = {}
        for q in CURATION_CHAIN:
            self._group(q)
            with self.tracer.span(f"operators.{q}"):
                with self.tracer.span(f"operators.{q}.build"):
                    t0 = time.perf_counter()
                    df = self.queries[q](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                with self.tracer.span(f"operators.{q}.run"):
                    noop_write(df)
            t[f"operators.{q}.build_s"] = t1 - t0
            t[f"operators.{q}.run_s"] = time.perf_counter() - t1
        return t

    def verify(self) -> tuple[int, int]:
        self.tag = "verify"
        con = duck_con(self.data_dir)
        failed = 0
        for q in CURATION_CHAIN:
            self._group(q)
            ok, _why = compare(self.queries[q](self.spark, self.data_dir),
                               con.sql(self.oracles[q]))
            failed += not ok
        con.close()
        return len(CURATION_CHAIN), failed


WORKLOADS = {w.name: w for w in (HtmlExtract, ResumableJob, RasterOcr, CurationSql)}
