"""Connected-components canonical dedup (round-2 VERDICT item 5).

corpus_curation drops ``doc_b`` per verified near-dup pair — correct
pairwise, but a duplicate CLUSTER (A~B, B~C with A,C never a direct pair)
needs transitive closure to pick ONE canonical id. The 100 TB-correct
algorithm is min-id label propagation to convergence:

  Spark side — an ITERATIVE DataFrame loop (the same shape
  GraphX/GraphFrames connected-components runs): each round every vertex
  takes the min of its own label and its neighbors' labels (one-hop
  spread), THEN pointer-jumps through its label's own label (path
  halving) — the jump is what makes convergence O(log(diameter)) instead
  of O(diameter), so MAX_ITERS=50 genuinely covers any graph a real
  corpus can produce (plain neighbor-min alone moves the min id one hop
  per round and would hard-fail on a 51-link sliding-window chain).
  Each round is two shuffles on doc_id; the per-round driver action is a
  single count (the convergence test), never row data. The hard iteration
  cap turns a pathological input into a loud error, not an unbounded job.

  DuckDB oracle — a recursive CTE computing min reachable id per vertex
  (UNION-distinct recursion, so cycles terminate). Transitive closure is
  O(V*E) and fine at oracle scale; the Spark loop is the scale path.

Edges are the LSH candidate pairs verified at exact shingle-Jaccard >=
JACCARD_MIN over ALL documents (text_queries.build_verified_pairs — the same
verify rule corpus_curation applies, but WITHOUT its quality pre-gate, so
the two operators' edge sets differ on quality-failing docs by design).
Output: every doc that participates in at least one verified pair, its
component id (min doc_id reachable), and the component size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dialect import DUCK
from .materialize import materialize

MAX_ITERS = 50  # pointer-jumping halves label-chain depth per round:
#                 O(log2(diameter)) rounds, so 50 covers diameter ~2**50


def _own_ckpt_dirs(df: DataFrame) -> set[str]:
    """THIS DataFrame's reliable-checkpoint rdd-<id> directory, found by
    walking the physical RDD's dependency chain to the checkpointed node
    (r6 ADVICE item 2: a before/after glob diff of the whole context
    checkpoint root would capture — and later delete — live rdd-* dirs any
    CONCURRENT caller checkpoints in the same window; the dependency walk
    is scoped to this run's own lineage, so concurrent checkpoints are
    never touched). Returns empty when no checkpoint file is found (never
    guesses) — the caller then skips GC for the round, which accumulates
    files but cannot lose data. A local checkpoint has no checkpoint file,
    so it always returns empty."""
    def walk(jrdd, depth: int) -> set[str]:
        if depth > 8:  # checkpoint node sits 2-3 deps below toRdd
            return set()
        opt = jrdd.getCheckpointFile()
        if opt.isDefined():
            return {opt.get()}
        found: set[str] = set()
        it = jrdd.dependencies().iterator()
        while it.hasNext():
            found |= walk(it.next().rdd(), depth + 1)
        return found

    try:
        return walk(df._jdf.queryExecution().toRdd(), 0)
    except Exception:
        return set()


def _delete_dirs(spark: SparkSession, dirs: set[str]) -> None:
    jvm = spark._jvm
    for d in dirs:
        p = jvm.org.apache.hadoop.fs.Path(d)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)


def min_label_components(edges: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """Min-id label propagation + pointer jumping over an undirected edge
    list (doc_a, doc_b) until a fixed point. Returns (doc_id,
    component_id). Every label is itself a vertex id (min over ids), so
    the jump join is total.

    Each round's labels are cut by operators/materialize.py: a RELIABLE
    checkpoint when the context has a checkpoint dir (round-4 VERDICT
    item 8 — an executor loss re-reads the labels instead of recomputing
    the lineage the cut threw away), a local one otherwise."""
    spark = edges.sparkSession
    prev_round_dirs: set[str] = set()
    und = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .cache()
    )
    labels = (
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .cache()
    )
    try:
        for _ in range(max_iters):
            prop = und.join(labels, und["src"] == labels["doc_id"]).select(
                F.col("dst").alias("doc_id"), "component_id"
            )
            hop = (
                labels.select("doc_id", "component_id")
                .union(prop)
                .groupBy("doc_id")
                .agg(F.min("component_id").alias("component_id"))
            )
            # pointer jump (path halving): follow the label's own label —
            # this, not the one-hop spread, is the O(log) ingredient
            new_labels = (
                hop.alias("a")
                .join(
                    hop.select(
                        F.col("doc_id").alias("lbl"),
                        F.col("component_id").alias("lbl_comp"),
                    ),
                    F.col("a.component_id") == F.col("lbl"),
                    "left",
                )
                .select(
                    F.col("a.doc_id").alias("doc_id"),
                    F.least(
                        F.col("a.component_id"),
                        F.coalesce(F.col("lbl_comp"), F.col("a.component_id")),
                    ).alias("component_id"),
                )
            )
            # lineage MUST be truncated each round: the jump self-join
            # doubles the logical plan per iteration (2^rounds nodes ->
            # driver OOM by ~10 rounds); checkpointing materializes AND
            # cuts the plan, which cache() alone does not
            new_labels = materialize(new_labels)
            round_dirs = _own_ckpt_dirs(new_labels)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.component_id") < F.col("o.component_id"))
                .count()
            )
            old = labels
            labels = new_labels
            old.unpersist()
            # round N-1's reliable checkpoint is dead once round N is
            # materialized AND the convergence count (the last reader of
            # the old labels) has run — delete it so iterations don't
            # accumulate files in the fault-tolerant store. The FINAL
            # round's checkpoint stays: it backs the returned DataFrame.
            if prev_round_dirs:
                _delete_dirs(spark, prev_round_dirs)
            prev_round_dirs = round_dirs
            if changed == 0:
                return labels
        labels.unpersist()
        if prev_round_dirs:
            _delete_dirs(spark, prev_round_dirs)
        raise RuntimeError(f"components did not converge in {max_iters} rounds")
    finally:
        und.unpersist()


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> near-dup graph -> (doc_id, component_id, n_members)."""
    from ..queries import _register_views
    from .text_exec import verified_pairs_mat

    _register_views(spark, sf_dir)
    # round 8: the edge list is materialized once (text_exec.
    # verified_pairs_mat — identical rows to build_verified_pairs(SPARK));
    # inlined, the 8-scan LSH chain re-ran once per undirected-union
    # branch before the loop's cache materialized.
    edges = verified_pairs_mat(spark)
    labels = min_label_components(edges)
    sizes = labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labels.join(sizes, "component_id").select(
        "doc_id", "component_id", "n_members"
    )


def components_oracle() -> str:
    from .text_queries import _lsh_candidates, _shingle_sets, _verified_pairs

    return f"""
WITH RECURSIVE ds AS ({_shingle_sets(DUCK)}),
{_lsh_candidates(DUCK, 'ds')},
pairs_sel AS (
  {_verified_pairs(DUCK, 'ds')}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs_sel
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs_sel
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, node) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT doc_id, min(node) AS component_id FROM reach GROUP BY doc_id)
SELECT c.doc_id, c.component_id, m.n_members
FROM comp c
JOIN (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id) m
  ON c.component_id = m.component_id
"""
