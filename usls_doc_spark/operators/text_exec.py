"""Spark-side materialized executions for multi-referenced-CTE text
templates (round 8). Same contract as training_mix_exec / the CMS exec:
the two-dialect template text stays the DuckDB oracle verbatim; the
registry's Spark callable computes IDENTICAL values through materialized
intermediates, because Spark inlines every CTE reference and re-runs the
shared subtree per reference (guide §2.4 — remove recomputation, don't
tune it). Every intermediate is cut by operators/materialize.py.

lm_bigram_fluency: the rendered template's executed plan held 12 parquet
scans of `documents` (plans/r08/lm_bigram_fluency_before.txt) — `docs`
feeds big/vocab/oov, `big` feeds c2/c1/scored, `vocab` feeds vsz/oov,
each reference re-running the word-split + explode. Here:

  * the train-half bigram counts c2 are aggregated in ONE pass and
    materialized (bounded by distinct train bigrams),
  * the context counts c1 are DERIVED from c2 — c1(w1) is the number of
    train bigram occurrences led by w1, i.e. SUM(c2) GROUP BY w1, exact
    integer identity, no rescan,
  * the train vocabulary is materialized in one pass and V = its count
    rides into the probability expression as a literal (the template's
    broadcast 1-row CROSS JOIN, collapsed driver-side — one aggregated
    scalar, the MLlib-style K-row collect discipline),
  * the final statement scans documents twice more (bigram scoring +
    per-word OOV join) — 4 scans total, each expression
    character-identical to the template's fragments (the one IEEE
    division per bigram is unchanged, so every double matches bitwise).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from .dialect import SPARK
from .materialize import materialize
from .text_queries import (
    LM_PPB,
    SIMHASH_BAND_BITS,
    SIMHASH_BAND_CAP,
    SIMHASH_BANDS,
    SIMHASH_HAM_MAX,
    _words,
)


def lm_bigram_fluency_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries import _register_views

    _register_views(spark, sf_dir)
    d = SPARK
    ws = d.split("text")
    n = d.array_len("ws")
    # throw-proof under Catalyst CSE (CLAUDE.md) — same as the template's
    # spark rendering
    big_body = f"""
SELECT doc_id, try_element_at(ws, i) AS w1, try_element_at(ws, i + 1) AS w2
FROM (SELECT doc_id, {ws} AS ws FROM documents) docs
{d.explode(d.seq("1", f"greatest({n} - 1, 1)"), "i")}
WHERE {n} >= 2
"""
    materialize(spark.sql(
        f"SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 "
        f"FROM ({big_body}) b WHERE doc_id % 2 = 0 GROUP BY w1, w2"
    ), "_lm_c2_mat")
    vocab = materialize(spark.sql(f"""
SELECT DISTINCT w FROM (
  SELECT {d.element("ws", "i")} AS w
  FROM (SELECT doc_id, {ws} AS ws FROM documents) docs
  {d.explode(d.seq("1", f"greatest({n}, 1)"), "i")}
  WHERE doc_id % 2 = 0
) t
"""), "_lm_vocab_mat")
    vsz = vocab.count()  # the template's 1-row vsz CROSS JOIN, as a literal
    p_q = (
        f"CAST(round(({LM_PPB}.0 * (COALESCE(b2.c2, 0) + 1))"
        f" / (COALESCE(b1.c1, 0) + {vsz}L)) AS BIGINT)"
    )
    return spark.sql(f"""
WITH big AS ({big_body}),
scored AS (
  SELECT g.doc_id, {p_q} AS p_ppb
  FROM big g
  LEFT JOIN _lm_c2_mat b2 ON g.w1 = b2.w1 AND g.w2 = b2.w2
  LEFT JOIN (
    SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM _lm_c2_mat GROUP BY w1
  ) b1 ON g.w1 = b1.w1
),
oov AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN vb.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM (
    SELECT doc_id, {d.element("ws", "i")} AS w
    FROM (SELECT doc_id, {ws} AS ws FROM documents) docs
    {d.explode(d.seq("1", f"greatest({n}, 1)"), "i")}
  ) t LEFT JOIN _lm_vocab_mat vb ON t.w = vb.w
  GROUP BY t.doc_id
)
SELECT o.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.avg_prob_ppb, 0) AS avg_prob_ppb,
       o.n_oov,
       CAST(o.n_oov AS DOUBLE) / o.n_words AS oov_rate
FROM oov o
LEFT JOIN (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST({d.intdiv("sum(p_ppb)", "count(*)")} AS BIGINT) AS avg_prob_ppb
  FROM scored GROUP BY doc_id
) s ON o.doc_id = s.doc_id
""")


QNF_DTG_SCHEMA = "doc_id bigint, t string, k bigint"


def _emit_doc_trigram_counts(batches):
    """The template's dtg CTE, per Arrow batch: (doc_id, trigram, k) for
    every distinct char trigram of each doc with length >= 3. Python
    slicing and len() operate on codepoints exactly like Spark's
    split(text, '') / length() (verified incl. astral-plane chars), so
    the emitted rows are the template's dtg rows verbatim."""
    import pandas as pd

    for pdf in batches:
        ids: list[int] = []
        ts: list[str] = []
        ks: list[int] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None or len(text) < 3:
                continue
            c = Counter([text[i : i + 3] for i in range(len(text) - 2)])
            ids.extend([doc_id] * len(c))
            ts.extend(c.keys())
            ks.extend(c.values())
        yield pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "t": pd.array(ts, dtype=object),
                "k": pd.array(ks, dtype="int64"),
            }
        )


def _qnf_from_documents(spark: SparkSession) -> DataFrame:
    """quality_ngram_familiarity over the session's `documents` view —
    split out so edge tests can point `documents` at synthetic data."""
    docs = spark.table("documents").select("doc_id", "text")
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    materialize(docs.repartition(n_part, "doc_id").mapInPandas(
        _emit_doc_trigram_counts, QNF_DTG_SCHEMA
    ), "_qnf_dtg_mat")
    return spark.sql("""
WITH dtg AS (SELECT doc_id, t, k FROM _qnf_dtg_mat),
cnt AS (SELECT t, CAST(sum(k) AS BIGINT) AS c FROM dtg GROUP BY t),
tot AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM dtg)
SELECT dtg.doc_id,
       CAST(sum(dtg.k) AS BIGINT) AS n_trigrams,
       (CAST(sum(CAST(dtg.k AS DECIMAL(18,0)) * CAST(cnt.c AS DECIMAL(18,0))) AS DOUBLE)
          * 1000000)
         / (CAST(sum(dtg.k) AS DOUBLE) * (SELECT n FROM tot)) AS familiarity
FROM dtg JOIN cnt ON dtg.t = cnt.t
GROUP BY dtg.doc_id
""")


def quality_ngram_familiarity_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_ngram_familiarity with the dtg stage as a numpy/pandas
    kernel and materialized ONCE. The template's trigram generation is a
    per-element interpreted HOF lambda (transform + 3x try_element_at +
    concat — Spark runs HOF lambdas interpreted, the dup_char_kgram
    pathology), and its dtg CTE is referenced three times (cnt, tot,
    final join), so inlining re-ran the whole explode+agg subtree per
    reference: 6 parquet scans, 149 s isolated at sf0.1
    (plans/r08/quality_ngram_familiarity_before.txt). The kernel emits
    the dtg rows verbatim (exact integer counts over identical codepoint
    trigrams); every later value expression is the template's text
    character-for-character — the DECIMAL(37,0)-exact weighted sum, one
    double multiply, one double divide — so every double matches
    bitwise. Guide §4.2 (HOF -> kernel), §2.4 (materialize
    multi-referenced subtrees)."""
    from ..queries import _register_views

    _register_views(spark, sf_dir)
    return _qnf_from_documents(spark)


def dedup_simhash_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash with the signature table materialized ONCE. The
    template's `sigs` CTE (one md5 per word + 64 array-HOF bit votes —
    the expensive projection) is referenced three times (band explode,
    pair-verify join a, join b) and Spark's CTE inlining re-ran it for
    each: 6 parquet scans in the executed plan
    (plans/r08/dedup_simhash_before.txt). Fragments are rendered with
    the same Dialect atoms as the template; exec == template is pinned
    by test_text_exec_equals_templates at two SFs."""
    from ..queries import _register_views

    _register_views(spark, sf_dir)
    d = SPARK
    w = _words(d)
    wmd = d.array_transform("ws", "x", d.md5("x"))
    wh_cols = ", ".join(
        d.array_transform(
            "wmd", "h", d.hex32_to_bigint(f"substr(h, {1 + 4 * k}, 4)")
        )
        + f" AS wh{k}"
        for k in range(SIMHASH_BANDS)
    )
    sh_cols = []
    for k in range(SIMHASH_BANDS):
        bit_terms = []
        for b in range(SIMHASH_BAND_BITS):
            signed = d.array_transform(
                f"wh{k}",
                "h",
                f"CASE WHEN ({d.shiftright('h', b)}) & 1 = 1 THEN 1 ELSE -1 END",
            )
            bit_terms.append(
                f"(CASE WHEN {d.array_sum_bigint(signed)} > 0 THEN {1 << b} ELSE 0 END)"
            )
        sh_cols.append(" + ".join(bit_terms) + f" AS sh{k}")
    sh_select = ",\n         ".join(sh_cols)
    sh_array = "array(" + ", ".join(f"sh{k}" for k in range(SIMHASH_BANDS)) + ")"
    materialize(spark.sql(f"""
WITH wh AS (
  SELECT doc_id, {wh_cols}
  FROM (SELECT doc_id, {wmd} AS wmd
        FROM (SELECT doc_id, {w} AS ws FROM documents))
)
SELECT doc_id, {sh_select} FROM wh
"""), "_simhash_sigs_mat")
    pairs_arr = (
        "flatten(transform(members, x -> "
        "transform(filter(members, y -> y > x), y -> array(x, y))))"
    )
    head = d.array_slice(d.sorted_list("doc_id"), 1, SIMHASH_BAND_CAP)
    hamming = " + ".join(
        f"bit_count({d.bit_xor2(f'a.sh{k}', f'b.sh{k}')})"
        for k in range(SIMHASH_BANDS)
    )
    return spark.sql(f"""
WITH bands AS (
  SELECT doc_id, band, band_key FROM _simhash_sigs_mat
  LATERAL VIEW posexplode({sh_array}) t AS band, band_key
),
heads AS (
  SELECT band, band_key, {head} AS members
  FROM bands GROUP BY band, band_key
),
cand AS (
  SELECT {d.element("pr", "1")} AS doc_a, {d.element("pr", "2")} AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM (SELECT {pairs_arr} AS prs FROM heads) h {d.explode("prs", "pr")}
  GROUP BY {d.element("pr", "1")}, {d.element("pr", "2")}
)
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       CAST({hamming} AS BIGINT) AS hamming
FROM cand c
JOIN _simhash_sigs_mat a ON a.doc_id = c.doc_a
JOIN _simhash_sigs_mat b ON b.doc_id = c.doc_b
WHERE {hamming} <= {SIMHASH_HAM_MAX}
""")


def _lsh_tail_sql(ds_view: str) -> str:
    """sigs/bands/cands CTE text over a MATERIALIZED ds view — the
    Spark rendering of _lsh_jaccard_ctes' candidate stage with `ds`
    replaced by the view (4 single-minhash bands, capped buckets,
    distinct candidate pairs)."""
    from .text_queries import _capped_bands

    d = SPARK
    mh_cols = ", ".join(
        d.array_min(d.array_transform("sh", "s", d.md5(f"'{j}:' || s")))
        + f" AS mh{j}"
        for j in range(4)
    )
    mh_array = "array(" + ", ".join(f"mh{j}" for j in range(4)) + ")"
    bands = (
        f"SELECT doc_id, band, band_key FROM sigs "
        f"LATERAL VIEW posexplode({mh_array}) t AS band, band_key"
    )
    return f"""sigs AS (SELECT doc_id, {mh_cols} FROM {ds_view}),
{_capped_bands(bands)},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _ds_mat(spark: SparkSession, view: str) -> None:
    """Materialize the template's `ds` CTE (distinct word 3-shingles per
    document, _lsh_jaccard_ctes' text) once and register it as ``view``."""
    d = SPARK
    sh = d.array_distinct(d.shingles("ws", 3))
    materialize(spark.sql(
        f"SELECT doc_id, {sh} AS sh "
        f"FROM (SELECT doc_id, {_words(d)} AS ws FROM documents)"
    ), view)


def dedup_ngram_jaccard_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard with the distinct-shingle table materialized
    ONCE (the template's ds CTE is referenced by sigs and both verify
    sides — 8 parquet scans via inlining,
    plans/r08/dedup_ngram_jaccard_before.txt)."""
    from ..queries import _register_views
    from .text_queries import _jaccard_exprs

    _register_views(spark, sf_dir)
    d = SPARK
    _ds_mat(spark, "_lsh_ds_mat")
    inter, alen, blen = _jaccard_exprs(d)
    return spark.sql(f"""
WITH {_lsh_tail_sql("_lsh_ds_mat")},
verified AS (
  SELECT c.doc_a, c.doc_b,
         {inter} AS shared,
         {alen} AS na,
         {blen} AS nb
  FROM cands c
  JOIN _lsh_ds_mat a ON a.doc_id = c.doc_a
  JOIN _lsh_ds_mat b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, shared,
       CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
FROM verified
ORDER BY CAST(shared AS DOUBLE) / (na + nb - shared) DESC, doc_a, doc_b
LIMIT 20
""")


def verified_pairs_mat(spark: SparkSession, threshold: float = 0.5) -> DataFrame:
    """build_verified_pairs (the near-dup edge list) with ds materialized
    once and the result materialized — the Spark-side execution
    dedup_components feeds its label-propagation loop. The template
    inlines ds into sigs and both verify-join sides (the
    dedup_ngram_jaccard 8-scan shape), and the CC loop's undirected
    union then evaluates the whole chain once PER UNION BRANCH before
    the cache materializes. Value expressions are the template's text
    verbatim (same Jaccard filter, same threshold formatting), so the
    edge set is identical row-for-row."""
    from .text_queries import _jaccard_exprs

    d = SPARK
    _ds_mat(spark, "_vp_ds_mat")
    inter, alen, blen = _jaccard_exprs(d)
    return materialize(spark.sql(f"""
WITH {_lsh_tail_sql("_vp_ds_mat")}
SELECT c.doc_a, c.doc_b
FROM cands c
JOIN _vp_ds_mat a ON a.doc_id = c.doc_a
JOIN _vp_ds_mat b ON b.doc_id = c.doc_b
WHERE CAST({inter} AS DOUBLE) / ({alen} + {blen} - {inter}) >= {threshold}
"""))


def lsh_recall_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_recall with ds / cands / exact materialized ONCE. The
    template's final one-row SELECT references `exact` three times and
    `cands` twice as scalar subqueries, `exact` itself joins ds twice
    and builds xpairs from an inv self-join (2 more ds references), and
    cands runs the sigs/bands chain — CTE inlining re-ran everything per
    reference: 52 parquet scans in the executed plan
    (plans/r08/lsh_recall_before.txt), 12 s isolated at sf0.1 for a
    one-row answer. The exec materializes each stage once; every value
    expression (the Jaccard filter, the counts, the single recall
    division) is the template's text verbatim, so the one output row is
    identical. The inv self-join stays by design — it is the EXHAUSTIVE
    exact side that makes this the measurement harness (docstring of the
    template); materialization removes only the re-execution."""
    from ..queries import _register_views
    from .text_queries import _jaccard_exprs

    _register_views(spark, sf_dir)
    d = SPARK
    _ds_mat(spark, "_lshr_ds_mat")
    materialize(spark.sql(
        f"WITH {_lsh_tail_sql('_lshr_ds_mat')} SELECT doc_a, doc_b FROM cands"
    ), "_lshr_cands_mat")
    inter, alen, blen = _jaccard_exprs(d)
    materialize(spark.sql(f"""
WITH inv AS (SELECT doc_id, s FROM _lshr_ds_mat LATERAL VIEW explode(sh) t AS s),
xpairs AS (
  SELECT DISTINCT i.doc_id AS doc_a, j.doc_id AS doc_b
  FROM inv i JOIN inv j ON i.s = j.s AND i.doc_id < j.doc_id
)
SELECT p.doc_a, p.doc_b
FROM xpairs p
JOIN _lshr_ds_mat a ON a.doc_id = p.doc_a
JOIN _lshr_ds_mat b ON b.doc_id = p.doc_b
WHERE CAST({inter} AS DOUBLE) / ({alen} + {blen} - {inter}) >= 0.5
"""), "_lshr_exact_mat")
    return spark.sql("""
WITH hits AS (
  SELECT count(*) AS n_hits
  FROM _lshr_exact_mat e
  JOIN _lshr_cands_mat c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
)
SELECT (SELECT count(*) FROM _lshr_exact_mat) AS n_exact,
       (SELECT count(*) FROM _lshr_cands_mat) AS n_candidates,
       (SELECT n_hits FROM hits) AS n_hits,
       CASE WHEN (SELECT count(*) FROM _lshr_exact_mat) = 0 THEN NULL
            ELSE CAST((SELECT n_hits FROM hits) AS DOUBLE)
                 / (SELECT count(*) FROM _lshr_exact_mat) END AS recall
""")


def corpus_curation_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curation with the quality-gated shingle table materialized
    ONCE (the template's ds is referenced by sigs, both verify sides AND
    the final survivor select — 10 parquet scans via inlining,
    plans/r08/corpus_curation_before.txt)."""
    from ..queries import _register_views
    from .text_queries import STOPWORDS, _jaccard_exprs, _words

    _register_views(spark, sf_dir)
    d = SPARK
    w = _words(d)
    sh = d.array_distinct(d.shingles("ws", 3))
    en = ", ".join(f"'{t}'" for t in STOPWORDS["en"])
    materialize(spark.sql(f"""
SELECT doc_id, lang, n_chars, {sh} AS sh FROM (
  SELECT doc_id, lang, n_chars, ws FROM (
    SELECT doc_id, lang, n_chars, {w} AS ws FROM documents
  ) base
  WHERE {d.array_len("ws")} >= 20
    AND CAST({d.array_filter_count("ws", "x", f"x IN ({en})")} AS DOUBLE)
        / {d.array_len("ws")} >= 0.02
) quality
"""), "_cc_ds_mat")
    inter, alen, blen = _jaccard_exprs(d)
    return spark.sql(f"""
WITH {_lsh_tail_sql("_cc_ds_mat")},
dups AS (
  SELECT c.doc_b AS drop_id
  FROM cands c
  JOIN _cc_ds_mat a ON a.doc_id = c.doc_a
  JOIN _cc_ds_mat b ON b.doc_id = c.doc_b
  WHERE CAST({inter} AS DOUBLE) / ({alen} + {blen} - {inter}) >= 0.5
)
SELECT doc_id, lang, n_chars FROM _cc_ds_mat ds
WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.drop_id = ds.doc_id)
""")
