"""Recurrence probes for the iterative operators.

The registry oracles for pagerank / personalized PageRank / k-core /
kmeans_lloyd are generated CTE chains unrolled at ONE fixed round count —
a green driver row therefore proves that single unrolling, not the
recurrence. These probes re-run BOTH engines at alternate round counts
(and a non-emptiness guard against vacuous green), so an off-by-one in
either loop body — e.g. an update applied before vs after the assignment,
or a peel round miscounted — fails here even though the registry config
happens to match.

sf0.001 keeps each probe a few seconds; exactness does not depend on SF
because every chain is integer/decimal fixed-point.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tools.driver_mirror import _norm_cell, duck_connect
from yellowrush_spark_ml_pipeline_spark.operators import graph
from yellowrush_spark_ml_pipeline_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"
TABLES = "customer orders lineitem embeddings documents".split()


@pytest.fixture(scope="module")
def duck():
    return duck_connect(SF_DIR, TABLES)


def _rows(pd_df):
    pd_df = pd_df[sorted(pd_df.columns)]
    return sorted(
        (
            tuple(_norm_cell(v) for v in r)
            for r in pd_df.itertuples(index=False, name=None)
        ),
        key=repr,
    )


def _assert_match(spark_df, duck, sql, min_rows=1):
    got = spark_df.toPandas()
    want = duck.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert len(got) >= min_rows, "vacuous probe: empty result"
    assert _rows(got) == _rows(want)


def _trade_edges(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    rel = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_suppkey"
    )
    return graph.bipartite_edges(rel, "o_custkey", "l_suppkey")


@pytest.mark.parametrize("iters,damping", [(2, 85), (5, 85), (3, 70)])
def test_pagerank_alternate_iterations(spark, duck, iters, damping):
    # alternate damping (70) exercises the teleport/damping arithmetic,
    # not just the loop count — a swapped damping term passes at any
    # iteration count but fails here.
    pr = graph.pagerank(
        _trade_edges(spark), iterations=iters, damping_pct=damping
    )
    out = pr.orderBy(F.col("rank_nano").desc(), F.col("node").asc()).limit(25)
    _assert_match(
        out,
        duck,
        entrymod.oracle_pagerank_sql(iterations=iters, damping_pct=damping),
    )


def test_ppr_alternate_iterations(spark, duck):
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    seeds = cu.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    pr = graph.personalized_pagerank(
        _trade_edges(spark), seeds, iterations=2, damping_pct=85
    )
    out = pr.orderBy(F.col("rank_nano").desc(), F.col("node").asc()).limit(25)
    _assert_match(out, duck, entrymod.oracle_ppr_sql(iterations=2))


@pytest.mark.parametrize("k,rounds", [(50, 2), (100, 3)])
def test_k_core_alternate_rounds(spark, duck, k, rounds):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    co = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    out = graph.k_core_membership(co, k=k, rounds=rounds)
    # min_rows=0 for the stricter k: the peel may legitimately empty the
    # graph at this SF — the k=50 case guards non-vacuousness.
    _assert_match(
        out,
        duck,
        entrymod.oracle_k_core_sql(k=k, rounds=rounds),
        min_rows=1 if k == 50 else 0,
    )


def test_kmeans_alternate_rounds(spark, duck):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.kmeans_lloyd(emb, k=8, n_assign=2)
    _assert_match(out, duck, entrymod.oracle_kmeans_sql(k=8, n_assign=2))


def test_pq_search_alternate_rounds(spark, duck):
    """PQ train -> encode -> ADC search with 3 Lloyd assignments per
    subspace (the registry oracle runs 2): pins the subspace chain's
    assignment/update coupling through the codes and the ADC order."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = similarity.pq_train(emb, m=4, k=8, n_assign=3)
    enc = similarity.pq_encode(emb, cb, m=4)
    out = similarity.pq_search_adc(enc, cb, queries_df, k=10, m=4)
    _assert_match(out, duck, entrymod.oracle_pq_search_sql(n_assign=3))


@pytest.mark.parametrize("rounds", [2, 4])
def test_label_propagation_alternate_rounds(spark, duck, rounds):
    """The LPA registry oracle unrolls 3 rounds; re-unrolling at 2 and 4
    checks the recurrence (vote -> count -> top-1) itself — an update
    applied to the wrong side of the self-vote passes at one count and
    fails at another."""
    lab = graph.label_propagation(_trade_edges(spark), rounds=rounds)
    out = (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("label").asc())
        .limit(25)
    )
    _assert_match(out, duck, entrymod.oracle_lpa_sql(rounds=rounds))


@pytest.mark.parametrize("rounds", [2, 4])
def test_bpe_merges_alternate_rounds(spark, duck, rounds):
    """BPE merge table re-unrolled at 2 and 4 rounds — pins the round
    coupling (the round-r dictionary must be the round-(r-1) merge
    applied, not a stale or doubly-merged one)."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        bpe_merge_rounds,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = bpe_merge_rounds(docs, rounds=rounds).orderBy("merge_round")
    _assert_match(out, duck, entrymod.oracle_bpe_sql(rounds=rounds))


@pytest.mark.parametrize("rounds", [1, 4])
def test_bpe_encode_alternate_rounds(spark, duck, rounds):
    """bpe_encode re-unrolled at 1 and 4 rounds — pins that the encode
    chain applies EVERY trained merge exactly once in training order
    (the registry oracle proves only rounds=3), including the final
    merge the training oracle never materializes."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        bpe_encode,
        bpe_merge_rounds,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    enc = bpe_encode(docs, bpe_merge_rounds(docs, rounds=rounds), rounds=rounds)
    out = enc.select(
        "doc_id", "n_tokens", F.array_join("token_ids", " ").alias("ids_str")
    )
    _assert_match(out, duck, entrymod.oracle_bpe_encode_sql(rounds=rounds))


@pytest.mark.parametrize("n_assign", [2, 4])
def test_semantic_dedup_alternate_rounds(spark, n_assign, duck):
    """semantic_dedup re-unrolled at 2 and 4 Lloyd rounds — pins the
    composed recurrence (assignment/update coupling on the unit sphere
    feeding the prune), not just the registry's n_assign=3 unrolling."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
        "label",
    )
    out = similarity.semantic_dedup(
        emb.unionByName(planted), threshold=0.9, k="auto", n_assign=n_assign
    )
    _assert_match(
        out, duck, entrymod.oracle_semantic_dedup_sql(n_assign=n_assign)
    )
