"""The versioned-artifact codec (``sources.artifacts``) as every artifact
kind uses it: IVF index, IVF-PQ index, SemDeDup state and BPE tokenizer.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.test_round10_ops import _blob_corpus


def _ivf(spark, corpus, path):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=2, lloyd_iters=1
    )
    similarity.save_ivf_index(assigned, cents, path)
    return lambda p: similarity.load_ivf_index(spark, p)


def _pq(spark, corpus, path):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=2, lloyd_iters=1
    )
    books = similarity.pq_train(corpus, m=2, k=2, n_assign=1)
    enc = similarity.pq_encode(
        assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
        books, m=2, extra_cols=["_list"],
    )
    similarity.save_pq_index(enc, books, cents, path)
    return lambda p: similarity.load_pq_index(spark, p)


def _semantic(spark, corpus, path):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    kept = corpus.select(
        "vec_id",
        F.lit(0).alias("cluster_id"),
        F.lit(0.0).alias("dist"),
        "embedding",
    )
    similarity.save_semantic_state(kept, [[0.0] * 8], path)
    return lambda p: similarity.load_semantic_state(spark, p)


def _tokenizer(spark, corpus, path):
    from yellowrush_spark_ml_pipeline_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    merges = textstats.bpe_merge_rounds(docs, rounds=1)
    vocab = textstats.bpe_vocab(docs, merges, 1)
    textstats.save_tokenizer(merges, vocab, path, rounds=1)
    return lambda p: textstats.load_tokenizer(spark, p)


@pytest.mark.parametrize(
    "save", [_ivf, _pq, _semantic, _tokenizer],
    ids=["ivf_index", "pq_index", "semantic_state", "tokenizer"],
)
def test_artifact_meta_guards_and_atomic_write(spark, tmp_path, save):
    corpus = _blob_corpus(spark, n_per=5, n_clusters=2, dim=8)
    path = tmp_path / "artifact"
    load = save(spark, corpus, str(path))
    leftovers = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".tmp")]
    assert not leftovers, leftovers
    load(str(path))  # the fresh artifact loads
    with pytest.raises(ValueError, match="meta.json"):
        load(str(tmp_path / "missing"))
    meta_path = path / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["format_version"] += 1
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        load(str(path))


def test_save_pq_index_refuses_float_centroids(spark, tmp_path):
    """No PQ search can probe float centroids, so saving them must fail
    before anything is written rather than leave an unsearchable index."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=5, n_clusters=2, dim=8)
    assigned, cents = similarity.ivf_build_index(
        corpus, n_lists=2, fit_fraction=1.0
    )
    books = similarity.pq_train(corpus, m=2, k=2, n_assign=1)
    enc = similarity.pq_encode(
        assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
        books, m=2, extra_cols=["_list"],
    )
    path = tmp_path / "pq_float"
    with pytest.raises(ValueError, match=r"\(list_id, int_vector\)"):
        similarity.save_pq_index(enc, books, cents, str(path))
    assert not path.exists()
