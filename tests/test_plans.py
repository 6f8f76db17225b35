"""Physical-plan audits: pushdown, pruning, broadcast, shuffle budget.

The 100 TB contract is enforced here: filters reach the parquet scan,
projections prune columns, dimensions broadcast, and the flagship plan
keeps its zero-shuffle shape.
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from ocrd_odem_spark.plans import pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs_parquet(spark, docs_df):
    tmp = tempfile.mkdtemp()
    docs_df.write.mode("overwrite").parquet(f"{tmp}/docs")
    return f"{tmp}/docs"


def test_filter_pushdown_to_scan(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet).where(F.col("doc_id") > "oai+synth_42_000010")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id" in plan, plan


def test_column_pruning(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet).select("doc_id")
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:string>" in plan, plan


def test_flagship_zero_shuffle(spark, docs_parquet):
    docs = spark.read.parquet(docs_parquet)
    out = pipeline.extract(docs, dehyphenate=True)
    assert "Exchange" not in _plan(out)


def _nodes(node, ancestors=()):
    """(name, ancestor names) of every node of a physical plan tree; an
    adaptive plan is walked through its current plan."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node.nodeName(), ancestors
    kids = node.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i), ancestors + (node.nodeName(),))


def test_blacklist_join_broadcasts(spark, docs_parquet, page_meta_df, doc_meta_df):
    """The meta extract is one Arrow map over broadcast joins: the fact
    table is never exchanged, and every shuffle (the blacklist's per-doc
    aggregation) feeds a broadcast.  ``mode`` accepts only ``"arrow"``."""
    docs = spark.read.parquet(docs_parquet)
    out = pipeline.extract(
        docs, page_meta=page_meta_df, doc_meta=doc_meta_df, with_metrics=True
    )
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("BroadcastExchange") == 2, plan
    nodes = list(_nodes(out._jdf.queryExecution().executedPlan()))
    assert [n for n, _ in nodes].count("MapInArrow") == 1, plan
    shuffles = [a for n, a in nodes if n == "Exchange"]
    assert shuffles, plan  # the blacklist aggregation's exchange
    assert all("BroadcastExchange" in a for a in shuffles), plan

    with pytest.raises(ValueError, match="only 'arrow'"):
        pipeline.extract(docs, mode="hof")


def test_q55_runs_in_the_extract_arrow_stage(spark):
    """q55's INI step chain runs inside the extract's one Arrow map."""
    from ocrd_odem_spark.plans.queries import q55_ini_pipeline_spark

    out = q55_ini_pipeline_spark(spark, "/root/testdata/sf0.001")
    names = [n for n, _ in _nodes(out._jdf.queryExecution().executedPlan())]
    assert names.count("MapInArrow") == 1, _plan(out)
    assert "MapInPandas" not in names, _plan(out)


def test_relational_join_broadcasts_small_dims(spark):
    from ocrd_odem_spark.plans.queries import retired_relational

    fn, _ = retired_relational()["q11_top_revenue_join"]
    plan = _plan(fn(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan  # nation (and customer) broadcast


def test_cosine_topk_broadcasts_queries(spark):
    from ocrd_odem_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cosine_topk(emb, emb.limit(4), k=2)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan  # corpus never shuffles
    assert "BroadcastExchange" in plan


def test_page_stats_single_fact_shuffle(spark, docs_parquet):
    from ocrd_odem_spark.operators.quality import page_text_stats_flat
    from ocrd_odem_spark.plans.pipeline import to_flat

    docs = spark.read.parquet(docs_parquet)
    text = to_flat(docs).where(F.col("kind") == "text")
    plan = _plan(page_text_stats_flat(text))
    # exactly one hash exchange of the fact rows (the page regroup)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_quality_vocab_not_force_broadcast(spark, docs_parquet):
    """estimate_page_quality must NOT force-broadcast the vocabulary: a
    corpus vocab is unbounded, so the join strategy belongs to AQE
    (VERDICT r2 item 1a)."""
    from ocrd_odem_spark.operators.quality import (
        estimate_page_quality,
        page_text_stats_flat,
    )
    from ocrd_odem_spark.plans.pipeline import to_flat

    docs = spark.read.parquet(docs_parquet)
    ps = page_text_stats_flat(to_flat(docs).where(F.col("kind") == "text"))
    vocab = spark.createDataFrame(
        [("der",), ("und",), ("die",)], "word string"
    )
    default = estimate_page_quality(ps, known_words=vocab)
    logical = default._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical, logical
