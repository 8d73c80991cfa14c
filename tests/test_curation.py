"""Curation-pipeline invariants (plans/curation.py) beyond the
end-to-end oracle gate (query ``curated_corpus``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.catalog import load_testdata
from hpc_hd_textreuse_etl_spark.plans.curation import (
    CurationConfig,
    curate,
    exact_dedup_keepers,
    quality_gate,
)
from tests.conftest import SF_SMOKE

CFG = CurationConfig(hash_family="portable")


@pytest.fixture(scope="module")
def split_docs(spark):
    load_testdata(spark, SF_SMOKE)
    docs = spark.table("documents")
    return (
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
    )


def test_curate_monotone_and_disjoint(spark, split_docs):
    corpus, bench = split_docs
    out = curate(corpus, bench, cfg=CFG).cache()
    n_corpus = corpus.count()
    n_out = out.count()
    assert 0 < n_out < n_corpus  # every stage actually dropped something
    # ids unique, splits valid, disjoint by construction
    assert out.select("doc_id").distinct().count() == n_out
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "test"
    }
    # output ids are a subset of the input corpus
    extra = out.join(corpus, "doc_id", "left_anti").count()
    assert extra == 0


@pytest.mark.slow  # soak tier, default-off (round-12 verify-window fix; run with -m slow)
def test_curate_deterministic_under_repartition(spark, split_docs):
    corpus, bench = split_docs
    a = sorted((r.doc_id, r.split) for r in curate(corpus, bench, cfg=CFG).collect())
    b = sorted(
        (r.doc_id, r.split)
        for r in curate(corpus.repartition(17), bench, cfg=CFG).collect()
    )
    assert a == b


def test_stage_semantics(spark, split_docs):
    corpus, _ = split_docs
    q = quality_gate(corpus, "text", CFG)
    # gate keeps exactly the docs meeting both thresholds
    from hpc_hd_textreuse_etl_spark.functions.text import stopword_ratio, tokens

    manual = corpus.filter(
        (F.size(tokens("text")) >= CFG.min_tokens)
        & (stopword_ratio("text") >= CFG.min_stopword_ratio)
    )
    assert q.count() == manual.count() > 0
    # exact dedup: one keeper per content hash, min id wins
    e = exact_dedup_keepers(q, "doc_id", "text")
    groups = (
        q.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))
    )
    assert e.count() == groups.count()
    keepers = {r.keeper for r in groups.collect()}
    assert {r.doc_id for r in e.select("doc_id").collect()} == keepers


def test_quality_gate_is_streaming_safe(spark, tmp_path, split_docs):
    """The curation quality gate is stateless Catalyst expressions, so
    the same code runs unchanged on a stream — batch and streaming
    drains keep the identical document set."""
    from hpc_hd_textreuse_etl_spark.streaming.events import run_to_memory

    corpus, _ = split_docs
    path = str(tmp_path / "docs")
    corpus.write.mode("overwrite").parquet(path)
    batch_ids = {
        r.doc_id
        for r in quality_gate(spark.read.parquet(path), "text", CFG)
        .select("doc_id").collect()
    }
    stream = spark.readStream.schema(corpus.schema).parquet(path)
    gated = quality_gate(stream, "text", CFG).select("doc_id")
    run_to_memory(gated, "q_gate_stream")
    stream_ids = {r.doc_id for r in spark.table("q_gate_stream").collect()}
    assert stream_ids == batch_ids and len(batch_ids) > 0
