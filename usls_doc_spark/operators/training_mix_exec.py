"""Spark-side EXECUTION of the trained-Lloyd-chain queries
(kmeans_ivf_build, dedup_semantic_cells) with materialized intermediates
and a numpy assignment kernel.

Round-8 optimization (guide §1, §2.4, §4.2). The single-statement
unrolled-CTE form in training_mix.py is what the DuckDB oracle runs (its
text is the frozen fingerprint), but Spark INLINES every CTE reference,
so the rendered plan recomputed the whole Lloyd lineage multiplicatively
— measured 96 parquet scans of `embeddings` for kmeans_ivf_build and
142 for dedup_semantic_cells at round start (plans/r08/*_before.txt):
20.1 s / 44.6 s of the 310 s bench on a 2000-row table, and a
100-full-pass plan at 100 TB.

This module computes IDENTICAL values with the textbook iterative shape
(what MLlib's KMeans does):

  * ONE scan of `embeddings` materializes `base` (through
    operators/materialize.py, as every intermediate here): the
    1e6-quantized BIGINT coordinates q1..q64 (the template's exact `qv`
    projection) plus, for the SemDeDup query, the f64 coordinates
    e1..e64 (exactly CAST(element_at(embedding, k) AS DOUBLE) — the
    leaves of the template's dot64 trees, materialized once),
  * each Lloyd iteration is one mapInPandas pass over base: the
    kernels/lloyd.py numpy kernel assigns every row to its nearest
    centroid in EXACT int64 arithmetic (same dist*K+cid min encoding,
    bit-identical — integer addition has no association drift) and
    emits per-batch per-cluster partial sums; Spark finishes with an
    8-group SUM(DECIMAL(38,0)) (the template's d.wide overflow
    discipline) — per iteration the shuffle is K x 66 values per batch,
    nothing else moves,
  * the K-row centroid update (exact floor division, the template's
    _floor_div fragment verbatim) is collected to the driver — K
    aggregated rows, scale-independent, the standard iterative-ML
    driver round-trip — and COALESCEd with the previous round in Python
    (plain int dict merge == the template's LEFT JOIN + COALESCE).

Why a kernel and not the 8-centroid literal SQL expression: the 8x64-
term distance tree cost ~1 s of Catalyst analysis PER USE, janino
refused to compile it (Code grows beyond 64 KB -> interpreted fallback),
and Catalyst's constraint propagation went quadratic on plans whose
aliases nest such trees (a localCheckpoint of one such projection was
observed >110 s on 2000 rows). Flat materialized columns + numpy keep
every remaining SQL expression small enough for codegen.

Float discipline (invariant 2): everything float-sensitive stays in SQL
with the dot64/balanced_sum association — nrm and the pair cosine are
built from the materialized e{k} columns, which are the exact f64
values the template's CAST(element_at(...) AS DOUBLE) leaves produce,
multiplied in the identical balanced-tree order, so every double is
bit-identical to the template's. The numpy kernel only ever touches the
quantized BIGINTs.

tests/test_training_mix_exec.py asserts exec == template row-for-row at
two SFs (on top of the registry-wide oracle parity harness) and pins
the plan shape (single embeddings scan per materialization, no Window
before the bounded-input rank)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.lloyd import assign_cells, partial_cluster_sums
from .dialect import SPARK, balanced_sum
from .materialize import materialize
from .training_mix import (
    KMEANS_DIMS,
    KMEANS_ITERS,
    KMEANS_K,
    SEMDEDUP_CELL_CAP,
    SEMDEDUP_COS,
    _floor_div,
    _quant,
)

# salt fan-out for the two-level per-cell cap (stage-1 partitions per cell)
SEMDEDUP_CAP_SALTS = 16

_D = SPARK
_QCOLS = [f"q{k}" for k in range(1, KMEANS_DIMS + 1)]
_ECOLS = [f"e{k}" for k in range(1, KMEANS_DIMS + 1)]


def _quant_exprs() -> list[str]:
    """The template's qv projection: q{k} = 1e6 fixed-point BIGINT."""
    return [
        f"{_quant(_D, 'embedding', str(k))} AS q{k}"
        for k in range(1, KMEANS_DIMS + 1)
    ]


def _e_exprs() -> list[str]:
    """The f64 leaves of the template's dot64 trees, materialized."""
    return [
        f"CAST(element_at(embedding, {k}) AS DOUBLE) AS e{k}"
        for k in range(1, KMEANS_DIMS + 1)
    ]


def _cent_arrays(cents: dict[int, list[int]]):
    cids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[int(c)] for c in cids], dtype=np.int64)
    return C, cids


def _iter_partials_fn(cents: dict[int, list[int]]):
    """mapInPandas closure: per-batch nearest-centroid assignment (numpy,
    exact int64) + per-cluster partial counts/sums — guide §2.3's
    'aggregate before you shuffle' applied to the Lloyd update."""
    C, cids = _cent_arrays(cents)

    def fn(batches):
        for pdf in batches:
            Q = pdf[_QCOLS].to_numpy(dtype=np.int64)
            cells = assign_cells(Q, C, cids, KMEANS_K)
            n, S = partial_cluster_sums(Q, cells, KMEANS_K)
            nz = np.nonzero(n)[0]
            out = {"cluster": nz.astype(np.int64), "n": n[nz]}
            for k in range(1, KMEANS_DIMS + 1):
                out[f"s{k}"] = S[nz, k - 1]
            yield pd.DataFrame(out)

    return fn


def _assign_fn(cents: dict[int, list[int]], pass_cols: list[str]):
    """mapInPandas closure: vec_id + cell + passthrough columns."""
    C, cids = _cent_arrays(cents)

    def fn(batches):
        for pdf in batches:
            Q = pdf[_QCOLS].to_numpy(dtype=np.int64)
            out = pdf[["vec_id", *pass_cols]].copy()
            out.insert(1, "cell", assign_cells(Q, C, cids, KMEANS_K))
            yield out

    return fn


def _trained_centroids(base: DataFrame):
    """Run the {KMEANS_ITERS} exact Lloyd iterations over the
    materialized base table; returns the final centroid dict (exact ints
    on the template's 1e6 grid), or {} when there are no seed rows."""
    seed_rows = base.select("vec_id", *_QCOLS).filter(
        F.col("vec_id") < KMEANS_K
    ).collect()
    cents = {int(r["vec_id"]): [int(r[q]) for q in _QCOLS] for r in seed_rows}
    if not cents:
        return {}
    part_schema = "cluster bigint, n bigint, " + ", ".join(
        f"s{k} bigint" for k in range(1, KMEANS_DIMS + 1)
    )
    sum_aggs = [F.sum("n").alias("n")] + [
        F.sum(F.expr(f"CAST(s{k} AS DECIMAL(38,0))")).alias(f"s{k}")
        for k in range(1, KMEANS_DIMS + 1)
    ]
    upd_exprs = [
        f"CAST({_floor_div(_D, f's{k}', 'n')} AS BIGINT) AS d{k}"
        for k in range(1, KMEANS_DIMS + 1)
    ]
    for _ in range(KMEANS_ITERS):
        part = base.select(*_QCOLS).mapInPandas(
            _iter_partials_fn(cents), part_schema
        )
        upd = (
            part.groupBy("cluster")
            .agg(*sum_aggs)
            .selectExpr("cluster AS cid", "n", *upd_exprs)
        )
        # K aggregated rows to the driver (scale-independent — the MLlib
        # KMeans pattern); the dict merge keeps an emptied cluster's
        # previous centroid, exactly the template's LEFT JOIN + COALESCE.
        new = {
            int(r["cid"]): [int(r[f"d{k}"]) for k in range(1, KMEANS_DIMS + 1)]
            for r in upd.collect()
        }
        cents = {cid: new.get(cid, prev) for cid, prev in cents.items()}
    return cents


def kmeans_ivf_build_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry execution of kmeans_ivf_build: identical rows to the
    training_mix template (the DuckDB oracle), one embeddings scan."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = materialize(emb.selectExpr("vec_id", *_quant_exprs()))
    cents = _trained_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "qid bigint, nid bigint, cell bigint, qdist bigint"
        )
    mat_schema = "vec_id bigint, cell bigint, " + ", ".join(
        f"q{k} bigint" for k in range(1, KMEANS_DIMS + 1)
    )
    mat = materialize(base.mapInPandas(_assign_fn(cents, _QCOLS), mat_schema))
    qset = mat.filter(F.col("vec_id") < 10)
    vdist = balanced_sum(
        [
            f"((a.q{k} - b.q{k}) * ((a.q{k} - b.q{k})))"
            for k in range(1, KMEANS_DIMS + 1)
        ]
    )
    scored = (
        F.broadcast(qset).alias("a")
        .join(
            mat.alias("b"),
            F.expr("a.cell = b.cell AND b.vec_id <> a.vec_id"),
        )
        .selectExpr(
            "a.vec_id AS qid",
            "b.vec_id AS nid",
            "a.cell AS cell",
            f"CAST({vdist} AS BIGINT) AS qdist",
        )
    )
    w = Window.partitionBy("qid").orderBy("qdist", "nid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", "nid", "cell", "qdist")
    )


def dedup_semantic_cells_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry execution of dedup_semantic_cells: identical rows to the
    training_mix template (the DuckDB oracle). One embeddings scan
    materializes quantized + f64 coordinates; the per-cell cap is a
    two-level salted rank (stage 1 partitions by (cell, salt): any
    vector whose GLOBAL per-cell rank is <= CAP also has within-salt
    rank <= CAP, so stage 2 computes the exact same membership on a
    bounded SALTS*CAP-per-cell input — the inverted_index skew
    discipline, replacing the template's whole-table K-partition
    window); the capped side (<= K*CAP rows BY CONSTRUCTION, corpus-
    size-independent) broadcasts into the pair join. NOT EXISTS becomes
    LEFT ANTI (identical semantics)."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = materialize(emb.selectExpr("vec_id", *_quant_exprs(), *_e_exprs()))
    cents = _trained_centroids(base)
    if not cents:
        return spark.createDataFrame([], "vec_id bigint, cell bigint")
    a_schema = "vec_id bigint, cell bigint, " + ", ".join(
        f"e{k} double" for k in range(1, KMEANS_DIMS + 1)
    )
    assigned = materialize(
        base.mapInPandas(_assign_fn(cents, _ECOLS), a_schema)
    )
    # nrm: the template's sqrt(dot64(embedding, embedding)) — identical
    # doubles (e{k} ARE the dot64 leaves), identical balanced association
    nrm = f"sqrt({balanced_sum([f'(e{k} * e{k})' for k in range(1, KMEANS_DIMS + 1)])})"
    w1 = Window.partitionBy("cell", "_salt").orderBy("vec_id")
    w2 = Window.partitionBy("cell").orderBy("vec_id")
    # bounded at K*CAP rows by construction — materialize so the pair
    # join's two sides don't each recompute the rank windows
    capped = materialize(
        assigned.selectExpr("vec_id", "cell", f"{nrm} AS nrm", *_ECOLS)
        .withColumn(
            "_salt", F.pmod(F.xxhash64("vec_id"), F.lit(SEMDEDUP_CAP_SALTS))
        )
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= SEMDEDUP_CELL_CAP)
        .withColumn("_rnk", F.row_number().over(w2))
        .filter(F.col("_rnk") <= SEMDEDUP_CELL_CAP)
        .select("vec_id", "cell", "nrm", *_ECOLS)
    )
    # the template's dot64(a.embedding, b.embedding): same leaves, same
    # balanced association, over the materialized f64 columns
    pair_dot = balanced_sum(
        [f"(a.e{k} * b.e{k})" for k in range(1, KMEANS_DIMS + 1)]
    )
    drops = (
        capped.alias("a")
        .join(F.broadcast(capped.alias("b")), F.expr(
            "a.cell = b.cell AND a.vec_id < b.vec_id"
        ))
        .filter(F.expr(f"({pair_dot}) / (a.nrm * b.nrm) >= {SEMDEDUP_COS}"))
        .selectExpr("b.vec_id AS drop_id")
    )
    return (
        assigned.join(
            drops, assigned["vec_id"] == drops["drop_id"], "left_anti"
        ).select("vec_id", "cell")
    )
