"""k-NN search operators (reference parity: A1/A2, vector_field.py:291-345).

Reference behavior to preserve:
- score ALL candidates after optional equality pre-filters on glyph_id /
  outer_context_id (vector_field.py:316-322), sort by score descending,
  take k (vector_field.py:324-326).
- The reference relies on Python's stable sort for ties; a distributed
  engine must declare a total order instead: (score DESC, id ASC).

Spark plan shape:
- single query → filter (pushed to Parquet / pruned partitions) → score
  Column expr (whole-stage codegen) → ORDER BY + LIMIT, which Spark
  executes as TakeOrderedAndProject: a per-partition top-k heap plus a
  driver merge — no global sort, no full shuffle. This is the plan that
  survives a 100 TB corpus: the only data movement is k rows per partition.
- query batch → broadcast the (small) query set, crossJoin against the
  corpus (scored in one pass), then row_number() over a window partitioned
  by query id. The corpus is scanned once for ALL queries — this is how
  Spark beats the reference's per-query rescans.
- Arrow scale path → `arrow_topk`, the one per-partition top-k + global
  merge core the exact, PQ (ann.py) and binary (binary.py) kernels
  share; compressed-domain candidates re-score through `exact_rerank`.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.similarity import (
    METRICS,
    _phi_scores_sequential,
    phi_weighted_pair_pandas,
    phi_weighted_pandas,
    similarity_col,
)
from aeuc_vector_db_spark.functions.vector import as_double, lit_vector


def knn_search(
    corpus: DataFrame,
    query: Sequence[float],
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    glyph_id_filter: int | None = None,
    glyph_col: str | None = None,
    outer_context_filter: int | None = None,
    ctx_col: str | None = None,
    impl: str = "sql",
) -> DataFrame:
    """Single-query exact k-NN (vector_field.py:291-326).

    Returns (id_col, score) ordered by score DESC, id ASC, limited to k.
    """
    df = corpus
    if glyph_id_filter is not None:
        df = df.filter(F.col(glyph_col or "glyph_id") == F.lit(glyph_id_filter))
    if outer_context_filter is not None:
        df = df.filter(F.col(ctx_col or "outer_context_id") == F.lit(outer_context_filter))

    emb = as_double(vec_col)
    if impl == "pandas" and metric == "phi_weighted":
        score: Column = phi_weighted_pandas(query)(emb)
    else:
        score = similarity_col(emb, lit_vector(query), metric)

    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def knn_search_batch(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Batched exact k-NN: one corpus scan scores every query.

    The query set is broadcast (it is small by construction); the corpus
    never shuffles — the only movement is k rows per (query, partition)
    into the window's top-k. Returns (query_id, id_col, score, rank).

    φ-weighted scoring goes through an Arrow-batched pandas UDF: the SQL
    higher-order-function expression is CodegenFallback (interpreted per
    row) and measured ~200× slower than the reference at sf0.1; the NumPy
    path is bit-identical (sequential folds) and vectorized.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid__"),
            as_double(query_vec_col).alias("__qvec__"),
        )
    )
    if metric == "phi_weighted":
        score_col = phi_weighted_pair_pandas()(as_double(vec_col), F.col("__qvec__"))
    else:
        score_col = similarity_col(as_double(vec_col), F.col("__qvec__"), metric)
    scored = corpus.crossJoin(q).select(
        F.col("__qid__").alias(query_id_col),
        F.col(id_col),
        score_col.alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(top_k))
        .orderBy(query_id_col, "rank")
    )


def arrow_topk(
    corpus: DataFrame,
    queries: DataFrame,
    make_scorer: Callable,
    in_col: str,
    top_k: int,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    width: int | None = None,
    dtype: str = "float64",
    cell_col: str | None = None,
    query_cells: dict | None = None,
) -> DataFrame:
    """The cell-masked Arrow top-k core every vectorized search kernel
    shares (exact k-NN, PQ ADC, binary Hamming): a per-partition local
    top-k, then a global merge — the REPOSE shape for distributed top-k
    similarity search. Kernels supply only their scoring arithmetic.

    The query set is collected (small by construction) to a (Q, d)
    float64 matrix and handed to `make_scorer` on the driver, which
    returns `score(block, rows)`: `block` is one Arrow batch's array
    column `in_col` as a (B, width) `dtype` matrix, `rows[j]` selects query j's rows
    (`slice(None)`, or the index array of its probed cells), and the
    result is one 1-D score array per query over exactly those rows —
    higher is better. The corpus is scanned ONCE via mapInPandas; NULL
    or wrong-width rows are dropped per row (a ragged np.asarray would
    abort the whole job, while the SQL twins null-propagate them out of
    the top-k). `cell_col` + `query_cells` (qid → iterable of allowed
    cell ids) mask each query to its own probed cells — the IVF fine
    scan. Only k·Q rows leave each partition: every batch is merged
    into the running per-query top-k by a lexsort on (score DESC,
    id ASC) — the tie-aware cut, since a bare argpartition would slice
    arbitrarily through TIED scores at the k-th place and could drop
    the id the determinism contract keeps. A final row_number window
    picks the global top-k. Returns (query_id, id, score, rank), id
    types following the inputs (string ids sort the same as long ones
    — the id never enters the arithmetic, only the sort).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(query_id_col), as_double(query_vec_col).alias("__qv__")
    ).collect()
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = [r[query_id_col] for r in q_rows]
    q_mat = np.asarray([list(r["__qv__"]) for r in q_rows], dtype=np.float64)
    score = make_scorer(q_mat)
    if width is None:
        width = q_mat.shape[1]
    allowed = (
        {qid: np.asarray(sorted(cs)) for qid, cs in query_cells.items()}
        if query_cells is not None
        else None
    )

    def partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict = {}
        for pdf in batches:
            vals = pdf[in_col].tolist()
            ok = [i for i, v in enumerate(vals) if v is not None and len(v) == width]
            if not ok:
                continue
            if len(ok) < len(vals):
                pdf = pdf.iloc[ok]
                vals = [vals[i] for i in ok]
            # np.asarray over the python list: string ids become '<U' dtype
            # (lexsort-able), where pandas .to_numpy() would yield object
            ids = np.asarray(pdf[id_col].tolist())
            if allowed is None:
                rows = [slice(None)] * len(q_ids)
            else:
                cells = pdf[cell_col].to_numpy()
                rows = [
                    np.flatnonzero(np.isin(cells, allowed.get(qid, ()))) for qid in q_ids
                ]
            for qid, r, s in zip(q_ids, rows, score(np.asarray(vals, dtype=dtype), rows)):
                if not len(s):
                    continue
                c_ids, c_s = ids[r], s
                if qid in best:
                    c_ids = np.concatenate((best[qid][0], c_ids))
                    c_s = np.concatenate((best[qid][1], c_s))
                keep = np.lexsort((c_ids, -c_s))[:top_k]
                best[qid] = (c_ids[keep], c_s[keep])
        out = [
            (qid, i, s)
            for qid, (c_ids, c_s) in best.items()
            for i, s in zip(c_ids.tolist(), c_s.tolist())
        ]
        if out:
            yield pd.DataFrame(out, columns=[query_id_col, id_col, "score"])

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    proj = [id_col, in_col] + ([cell_col] if allowed is not None else [])
    partial = corpus.select(*proj).mapInPandas(
        partition_topk, f"{query_id_col} {qid_type}, {id_col} {id_type}, score double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= F.lit(top_k)
    )


def knn_search_batch_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    cell_col: str | None = None,
    query_cells: dict | None = None,
) -> DataFrame:
    """Arrow-vectorized batch k-NN — the 100 TB hot path: `arrow_topk`
    with exact NumPy scoring, one (B, Q) matrix product per Arrow batch.

    cell_col + query_cells turn this into the IVF fine scan (ann.py
    ivf_search_batch_arrow composes it with partition pruning — the
    interpreted-HOF fine scan measured 10× slower than this kernel's
    full scan at N=1M, so pruning must not fall back to it). Compare
    knn_search_batch (SQL expression path): same results rank-for-rank,
    but the crossJoin ships (embedding, query) pairs and the higher-order
    functions evaluate interpreted — measured ~8 s vs ~0.5 s for
    2M pair-scores at N=100k. The SQL path remains the oracle-pinned
    form (sequential fold bit-parity); this one uses np.dot (pairwise
    summation — scores differ in low-order bits but ranks agree, see
    tests/test_search_arrow.py).

    Returns (query_id, id, score, rank) like knn_search_batch.
    """
    import numpy as np

    if metric not in METRICS:
        raise ValueError(f"Unknown metric {metric!r}")

    def make_scorer(q_mat):
        def score(mat, rows):
            if metric == "cosine":
                s = (mat @ q_mat.T) / (
                    np.linalg.norm(mat, axis=1)[:, None]
                    * np.linalg.norm(q_mat, axis=1)[None, :]
                    + 1e-12
                )
            elif metric == "dot":
                s = mat @ q_mat.T
            elif metric == "euclidean":
                # direct differences per query — the ‖a‖²−2ab+‖b‖²
                # expansion cancels catastrophically for near-identical
                # vectors
                s = np.column_stack([
                    1.0 / (1.0 + np.sqrt(np.square(mat - q).sum(axis=1)))
                    for q in q_mat
                ])
            else:
                s = np.column_stack([
                    _phi_scores_sequential(mat, np.broadcast_to(q, mat.shape))
                    for q in q_mat
                ])
            return [s[r, j] for j, r in enumerate(rows)]

        return score

    return arrow_topk(
        corpus, queries, make_scorer, vec_col, top_k,
        id_col, query_id_col, query_vec_col,
        cell_col=cell_col, query_cells=query_cells,
    ).orderBy(query_id_col, "rank")


def exact_rerank(
    corpus: DataFrame,
    cands: DataFrame,
    queries: DataFrame,
    top_k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Exact re-rank of a compressed-domain candidate set (PQ ADC+R,
    binary Hamming top-R): the (query, id) candidates — Q·R rows,
    tiny — BROADCAST onto the float corpus, each pair re-scored exactly
    with the SQL fold, ranked (score DESC, id ASC). Only candidate
    selection is approximate; reported scores are exact, and the corpus
    never shuffles. Extra candidate columns (e.g. `hamming`) ride
    through: (query_id, id, *extra, score, rank), rank ≤ top_k."""
    extra = [c for c in cands.columns if c not in (query_id_col, id_col)]
    scored = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(cands), id_col)
        .join(F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col)
        .withColumn(
            "score",
            similarity_col(as_double(F.col(vec_col)), as_double(F.col(query_vec_col)), metric),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(query_id_col, id_col, *extra, "score", "rank")
    )


def search_pglyphs(
    pglyphs: DataFrame,
    query: Sequence[float],
    top_k: int = 5,
    metric: str = "cosine",
    id_col: str = "pglyph_id",
    vec_col: str = "centroid",
) -> DataFrame:
    """Coarse prototype-level search (vector_field.py:328-345)."""
    return knn_search(pglyphs, query, top_k=top_k, metric=metric, id_col=id_col, vec_col=vec_col)


def two_level_search(
    corpus: DataFrame,
    pglyphs: DataFrame,
    membership: DataFrame,
    query: Sequence[float],
    top_k: int = 10,
    nprobe: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style coarse→fine search: A2 then A1 within the winning clusters.

    The centroid scan is tiny; the fine scan touches only the members of
    the nprobe best clusters (a broadcast semi-join — at scale this is the
    partition-pruned path when the corpus is written partitioned by
    cluster id).
    """
    best = search_pglyphs(pglyphs, query, top_k=nprobe, metric=metric)
    member_ids = membership.join(
        F.broadcast(best.select("pglyph_id")), "pglyph_id", "inner"
    ).select(F.col("iglyph_id").alias(id_col))
    pruned = corpus.join(F.broadcast(member_ids), id_col, "left_semi")
    return knn_search(pruned, query, top_k=top_k, metric=metric, id_col=id_col, vec_col=vec_col)
