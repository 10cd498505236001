"""Binary sign-bit quantization + Hamming search (operators/binary.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators.binary import (
    binary_search_rerank,
    hamming_col,
    sign_pack,
)


def _queries(emb):
    return emb.filter(F.expr("vec_id % 100 = 3")).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def test_sign_pack_hand_computed(spark):
    # dim 34 → 2 words; bits 0,2 of w0 and bit 1 of w1 set
    vec = [0.0] * 34
    vec[0] = 1.5  # w0 bit 0
    vec[2] = 0.25  # w0 bit 2
    vec[1] = -3.0  # negative → 0
    vec[33] = 7.0  # w1 bit 1
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = sign_pack(df, dim=34).first()
    assert row["w0"] == (1 << 0) + (1 << 2)
    assert row["w1"] == (1 << 1)


def test_sign_pack_zero_is_not_set(spark):
    """Strict > 0: exact zeros pack to 0-bits (the conventional split —
    and the one the DuckDB oracle mirrors)."""
    df = spark.createDataFrame(
        [(1, [0.0, -0.0, 1.0, -1.0])], "vec_id long, embedding array<float>"
    )
    assert sign_pack(df, dim=4).first()["w0"] == (1 << 2)


def test_hamming_matches_python_popcount(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    packed = {r["vec_id"]: (r["w0"], r["w1"]) for r in sign_pack(emb, 64).collect()}

    q = sign_pack(
        _queries_like(emb, 3), 64, "query_embedding", "query_id", prefix="qw"
    )
    got = {
        r["vec_id"]: r["h"]
        for r in sign_pack(emb, 64, prefix="cw")
        .crossJoin(F.broadcast(q))
        .select("vec_id", hamming_col(2).alias("h"))
        .collect()
    }
    qw = packed[3]
    for vid, (w0, w1) in packed.items():
        assert got[vid] == bin(w0 ^ qw[0]).count("1") + bin(w1 ^ qw[1]).count("1")


def _queries_like(emb, vid):
    return emb.filter(F.col("vec_id") == vid).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def test_refine_r_full_recovers_exact_search(embeddings):
    """R = N makes stage 1 a no-op filter, so the cosine re-rank must
    reproduce exact brute-force top-k rank-for-rank."""
    from aeuc_vector_db_spark.operators.search import knn_search_batch

    n = embeddings.count()
    q = _queries(embeddings)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in binary_search_rerank(
            embeddings, q, dim=64, top_k=10, refine_r=n
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_search_batch(embeddings, q, top_k=10, metric="cosine").collect()
    }
    assert got == want


def test_partitioning_invariance(embeddings):
    q = _queries(embeddings)
    outs = []
    for n_parts in (1, 8):
        res = binary_search_rerank(
            embeddings.repartition(n_parts), q, dim=64, top_k=10, refine_r=50
        )
        outs.append(sorted(map(tuple, res.collect())))
    assert outs[0] == outs[1]


def test_hamming_cut_uses_window_group_limit(embeddings):
    """The per-query top-R cut must run the WindowGroupLimit partial
    top-k (shuffle volume R per query per partition) and the query side
    must broadcast — the corpus never shuffles in stage 1."""
    plan = (
        binary_search_rerank(embeddings, _queries(embeddings), dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


def test_arrow_twin_matches_sql_twin(embeddings):
    """The Arrow (SWAR-popcount mapInPandas) path must reproduce the SQL
    twin rank-for-rank, hamming-for-hamming — including through the
    pre-packed-input shape a materialized index would use."""
    from aeuc_vector_db_spark.operators.binary import (
        binary_search_rerank_arrow,
        sign_pack,
    )

    q = _queries(embeddings)
    want = sorted(
        map(
            tuple,
            binary_search_rerank(embeddings, q, dim=64, top_k=10, refine_r=50)
            .select("query_id", "vec_id", "hamming", "rank")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            binary_search_rerank_arrow(embeddings, q, dim=64, top_k=10, refine_r=50)
            .select("query_id", "vec_id", "hamming", "rank")
            .collect(),
        )
    )
    assert got == want
    packed = sign_pack(embeddings, dim=64, prefix="cw")
    got_packed = sorted(
        map(
            tuple,
            binary_search_rerank_arrow(
                embeddings, q, dim=64, top_k=10, refine_r=50, packed=packed
            )
            .select("query_id", "vec_id", "hamming", "rank")
            .collect(),
        )
    )
    assert got_packed == want


def test_arrow_twin_partitioning_invariance(embeddings):
    from aeuc_vector_db_spark.operators.binary import binary_search_rerank_arrow

    q = _queries(embeddings)
    outs = []
    for n_parts in (1, 8):
        res = binary_search_rerank_arrow(
            embeddings.repartition(n_parts), q, dim=64, top_k=10, refine_r=50
        )
        outs.append(sorted(map(tuple, res.collect())))
    assert outs[0] == outs[1]
