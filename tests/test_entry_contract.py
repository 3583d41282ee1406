"""Driver-contract regression guard: __spark_entry__ must keep its shape
(entry smoke, queries/oracles dict contract, stable schema, plan-building
callables) — the exact interface the round driver exercises."""

import pytest

from tests.conftest import SF_DIR


def _execs():
    from usls_doc_spark.operators.text_exec import (
        corpus_curation_exec,
        dedup_ngram_jaccard_exec,
        dedup_simhash_exec,
        lm_bigram_fluency_exec,
        lsh_recall_exec,
        quality_ngram_familiarity_exec,
    )
    from usls_doc_spark.operators.training_mix_exec import (
        dedup_semantic_cells_exec,
        kmeans_ivf_build_exec,
    )
    from usls_doc_spark.operators.web_curation import cms_heavy_hitters_exec
    from usls_doc_spark.pipeline.chargrams import dup_char_kgram_fraction

    return {
        "lm_bigram_fluency": lm_bigram_fluency_exec,
        "dedup_simhash": dedup_simhash_exec,
        "lsh_recall": lsh_recall_exec,
        "dedup_ngram_jaccard": dedup_ngram_jaccard_exec,
        "corpus_curation": corpus_curation_exec,
        "quality_ngram_familiarity": quality_ngram_familiarity_exec,
        "cms_heavy_hitters": cms_heavy_hitters_exec,
        "kmeans_ivf_build": kmeans_ivf_build_exec,
        "dedup_semantic_cells": dedup_semantic_cells_exec,
        "dup_char_kgram_fraction": dup_char_kgram_fraction,
    }


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "url",
        "extracted_text",
        "n_blocks",
        "extracted_bytes",
        "error",
    ]
    assert df.count() > 0

    qs, oracles = e.queries(), e.oracle_sql()
    assert next(iter(qs)) == "extract_text"  # the flagship registers first
    assert set(oracles) == set(qs)  # every query has an oracle and vice versa
    assert len(qs) >= 37
    # every Spark-side exec is the callable the registry serves
    for name, fn in _execs().items():
        assert qs[name] is fn, name
    # column names in each oracle must appear aliased (spot syntax check):
    for name, sql in oracles.items():
        assert sql.strip().upper().startswith(("SELECT", "WITH")), name


def test_all_query_plans_build(spark):
    import __spark_entry__ as e

    qs = e.queries()
    for name, fn in qs.items():
        if name == "streaming_events_window":
            continue  # starts a real stream; covered by its own parity test
        df = fn(spark, SF_DIR)
        assert len(df.schema.fields) > 0, name


def test_registry_rejects_a_name_in_two_families(monkeypatch):
    from usls_doc_spark.operators import relational
    from usls_doc_spark.queries import build_registry

    monkeypatch.setitem(
        relational.RELATIONAL_QUERIES,
        "dedup_exact",
        relational.RELATIONAL_QUERIES["q6_revenue_delta"],
    )
    with pytest.raises(ValueError, match="dedup_exact"):
        build_registry()


def test_registry_rejects_an_exec_without_a_template(monkeypatch):
    from usls_doc_spark.operators.text_queries import TEXT_QUERIES
    from usls_doc_spark.queries import build_registry

    monkeypatch.delitem(TEXT_QUERIES, "lsh_recall")
    with pytest.raises(ValueError, match="lsh_recall"):
        build_registry()
