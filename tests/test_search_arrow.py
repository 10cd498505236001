"""The Arrow mapInPandas batch k-NN must agree rank-for-rank with the
oracle-pinned SQL-expression path on every metric."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators.ann import pq_encode, pq_search_batch, pq_train
from aeuc_vector_db_spark.operators.binary import binary_search_rerank, binary_search_rerank_arrow
from aeuc_vector_db_spark.operators.search import knn_search_batch, knn_search_batch_arrow
from aeuc_vector_db_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean", "phi_weighted"])
def test_arrow_path_matches_sql_path(emb, queries, metric):
    sql_res = knn_search_batch(emb, queries, top_k=10, metric=metric).collect()
    arrow_res = knn_search_batch_arrow(emb, queries, top_k=10, metric=metric).collect()
    sql_ranks = [(r["query_id"], r["rank"], r["vec_id"]) for r in sql_res]
    arrow_ranks = [(r["query_id"], r["rank"], r["vec_id"]) for r in arrow_res]
    assert sql_ranks == arrow_ranks
    # scores agree to float64 noise (np.dot pairwise vs sequential fold)
    for a, b in zip(sql_res, arrow_res):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9, abs=1e-12)


def test_arrow_path_multi_partition_consistency(emb, queries):
    one = knn_search_batch_arrow(emb.coalesce(1), queries, top_k=5).collect()
    many = knn_search_batch_arrow(emb.repartition(16), queries, top_k=5).collect()
    assert [(r["query_id"], r["rank"], r["vec_id"]) for r in one] == [
        (r["query_id"], r["rank"], r["vec_id"]) for r in many
    ]


def test_arrow_path_empty_queries_raises(emb, spark):
    empty = spark.createDataFrame([], "query_id long, query_embedding array<float>")
    with pytest.raises(ValueError, match="empty query set"):
        knn_search_batch_arrow(emb, empty)


def _pq_arrow(corpus, q, top_k):
    books = pq_train(corpus, m=3, nbits=1, seed=7, iters=2, sample_mod=1)
    return pq_search_batch(pq_encode(corpus, books), books, q, top_k=top_k)


#: every kernel on the shared Arrow top-k core → (arrow path, SQL twin)
ARROW_KERNELS = {
    "exact": (
        lambda c, q, k: knn_search_batch_arrow(c, q, top_k=k),
        lambda c, q, k: knn_search_batch(c, q, top_k=k),
    ),
    "pq": (_pq_arrow, None),
    # refine_r = k: the Hamming top-R cut itself sits on the tie boundary
    "binary": (
        lambda c, q, k: binary_search_rerank_arrow(c, q, dim=3, top_k=k, refine_r=k),
        lambda c, q, k: binary_search_rerank(c, q, dim=3, top_k=k, refine_r=k),
    ),
}


@pytest.mark.parametrize("layout", ["coalesce1", "repartition16"])
@pytest.mark.parametrize("kernel", list(ARROW_KERNELS))
def test_arrow_path_tied_scores_break_by_id(spark, kernel, layout):
    """Identical vectors (all scores tied) must yield ids ascending —
    the per-batch candidate cut may not drop a lower id in favor of a
    higher one that appeared earlier in the batch, on one partition or
    spread over many."""
    rows = [(i, [1.0, 2.0, 3.0]) for i in (50, 7, 99, 1, 23, 64, 8, 31)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = corpus.coalesce(1) if layout == "coalesce1" else corpus.repartition(16)
    q = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "query_id long, query_embedding array<double>"
    )
    arrow, sql_twin = ARROW_KERNELS[kernel]
    res = sorted(arrow(corpus, q, 4).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in res] == [1, 7, 8, 23]
    if sql_twin is not None:
        sql = sorted(sql_twin(corpus, q, 4).collect(), key=lambda r: r["rank"])
        assert [r["vec_id"] for r in sql] == [r["vec_id"] for r in res]
