"""Binary (sign-bit) embedding quantization + Hamming search + exact
re-rank — the cheapest point on the engine's compression ladder
(float32 → PQ codes → single bits), charter extension alongside
operators/ann.py PQ/IVFADC. (The reference has no binary quantization;
this is the 32×-compression similarity-search mode its users ask of a
vector engine at corpus scales where even PQ codes are IO-bound.)

Design for 100 TB:

- A dim-d float corpus packs to ceil(d/32) BIGINT words per row — 32×
  less IO than the float scan, and the packing is a pure JVM expression
  (a sum of 32 `when` terms per word — whole-stage codegen, no HOF
  interpretation, no Python). At scale you materialize the packed table
  once (like `pq_encode`) and scan only it.
- The Hamming scan is `bit_count(xor(words))` — integer ALU work inside
  codegen; the query side broadcasts, the corpus NEVER shuffles, and the
  per-query top-R cut goes through the rank-window path whose
  WindowGroupLimit partial top-k is plan-gated (shuffle volume = R rows
  per query per partition, not N·Q).
- Re-rank: the R candidates per query (tiny) BROADCAST back onto the
  float corpus — exact cosine on Q·R rows only. Guarantees the final
  scores are exact; only candidate selection is approximate.

Cross-engine: packing, Hamming, and the cosine re-score are all exact
integer / sequential-fold arithmetic, so DuckDB mirrors the whole
pipeline bit-for-bit (oracle: `emb_binary_hamming_topk`).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators.search import arrow_topk, exact_rerank

WORD_BITS = 32  # bits per packed word; 2^31 ≤ BIGINT so sums stay exact


def sign_pack_cols(vec: Column | str, dim: int) -> list[Column]:
    """ceil(dim/32) BIGINT words: bit i of word j = 1 iff vec[32j+i] > 0
    (strict — zeros and negatives map to 0, the conventional sign split).

    Each word is a sum of `when` literals (1 << i): integer-exact, pure
    codegen, order-independent."""
    v = F.col(vec) if isinstance(vec, str) else vec
    words = []
    for j in range(0, dim, WORD_BITS):
        n = min(WORD_BITS, dim - j)
        w: Column = F.lit(0).cast("long")
        for i in range(n):
            w = w + F.when(
                F.element_at(v, j + i + 1) > F.lit(0), F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        words.append(w)
    return words


def sign_pack(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefix: str = "w",
) -> DataFrame:
    """(id, w0..w{k-1}) packed table — the 32×-smaller scan target."""
    words = sign_pack_cols(vec_col, dim)
    return df.select(
        id_col, *[w.alias(f"{prefix}{j}") for j, w in enumerate(words)]
    )


def hamming_col(n_words: int, a_prefix: str = "qw", b_prefix: str = "cw") -> Column:
    """Σ_j bit_count(xor(a_j, b_j)) — the Hamming distance between two
    packed vectors, as one codegen expression."""
    d: Column = F.lit(0)
    for j in range(n_words):
        d = d + F.bit_count(
            F.col(f"{a_prefix}{j}").bitwiseXOR(F.col(f"{b_prefix}{j}"))
        )
    return d


def binary_search_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    top_k: int = 10,
    refine_r: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage search: Hamming top-R over sign bits, exact cosine
    top-k over the R survivors. Output: (query_id, vec_id, hamming,
    score, rank), rank ≤ top_k, ties broken by ascending id at BOTH
    stages (deterministic under any partitioning).

    refine_r is the recall knob: R = k recovers pure-Hamming ranking;
    R → N recovers exact search."""
    n_words = math.ceil(dim / WORD_BITS)
    cp = sign_pack(corpus, dim, vec_col, id_col, prefix="cw")
    qp = sign_pack(queries, dim, query_vec_col, query_id_col, prefix="qw")
    ham = cp.crossJoin(F.broadcast(qp)).select(
        query_id_col, id_col, hamming_col(n_words).alias("hamming")
    )
    w_h = Window.partitionBy(query_id_col).orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    cands = (
        ham.withColumn("hrank", F.row_number().over(w_h))
        .filter(F.col("hrank") <= refine_r)
        .select(query_id_col, id_col, "hamming")
    )
    return exact_rerank(
        corpus, cands, queries, top_k, "cosine",
        id_col, vec_col, query_id_col, query_vec_col,
    )


def binary_search_rerank_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    top_k: int = 10,
    refine_r: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    packed: DataFrame | None = None,
) -> DataFrame:
    """Arrow twin of `binary_search_rerank` — same two-stage semantics,
    stage 1 vectorized in the shared `arrow_topk` core: the packed words
    stream through as uint64 lanes, Hamming = SWAR popcount of xor
    (NumPy, whole batch × all queries at once), ranked by NEGATED
    Hamming so the core's (score DESC, id ASC) tie-aware cut keeps the
    R smallest distances, lowest id first; then the same exact cosine
    re-rank. Rank-for-rank equal to the SQL twin (pinned in
    test_binary.py) — the SQL path carries the DuckDB oracle, this
    path carries the throughput.

    Pass `packed` (from `sign_pack(corpus, dim, prefix="cw")`, persisted)
    to scan the 16-byte/row packed table instead of re-packing floats —
    the materialized-index shape a 100 TB corpus would use."""
    import numpy as np

    n_words = math.ceil(dim / WORD_BITS)
    cp = packed if packed is not None else sign_pack(corpus, dim, vec_col, id_col, prefix="cw")
    # the query side packs with the same JVM rule, as one words array
    # the core collects (word values < 2^32 survive its double widening)
    qp = queries.select(
        F.col(query_id_col),
        F.array(*sign_pack_cols(query_vec_col, dim)).alias(query_vec_col),
    )

    def make_scorer(q_mat):
        q_words = q_mat.astype(np.uint64)  # (Q, W)

        def score(words, rows):
            x = words.view(np.uint64)[:, None, :] ^ q_words[None, :, :]  # (B, Q, W)
            # SWAR popcount per 64-bit lane
            x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
            x = (x & np.uint64(0x3333333333333333)) + (
                (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
            )
            x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
            ham = ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).sum(axis=2)
            neg = -ham.astype(np.float64)  # (B, Q)
            return [neg[r, j] for j, r in enumerate(rows)]

        return score

    words = cp.select(
        id_col, F.array(*[F.col(f"cw{j}") for j in range(n_words)]).alias("__words__")
    )
    cands = arrow_topk(
        words, qp, make_scorer, "__words__", refine_r,
        id_col, query_id_col, query_vec_col, width=n_words, dtype="int64",
    ).select(query_id_col, id_col, (-F.col("score")).cast("int").alias("hamming"))
    return exact_rerank(
        corpus, cands, queries, top_k, "cosine",
        id_col, vec_col, query_id_col, query_vec_col,
    )
