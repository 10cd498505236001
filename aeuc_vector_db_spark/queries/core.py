"""Vector-engine declared queries (SURVEY.md §2.A rows) with DuckDB oracles.

Every oracle mirrors the Spark expression term by term — same DOUBLE
widening, same left-to-right fold order, same epsilon guards, same
literals — so unrounded doubles are bit-identical (verified) and the
final rounding can't diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.similarity import PHI_POWERS, cosine_col
from aeuc_vector_db_spark.functions.vector import as_double
from aeuc_vector_db_spark.operators import clustering as C
from aeuc_vector_db_spark.operators.search import knn_search_batch, knn_search_batch_arrow
from aeuc_vector_db_spark.operators.clustering import _phi_break_fracs
from aeuc_vector_db_spark.sources.tables import ensure_min_parallelism, load_table

# ---------------------------------------------------------------------------
# DuckDB SQL fragment builders (mirror functions/vector.py + similarity.py)
# ---------------------------------------------------------------------------

def _dk_double(arr: str) -> str:
    return f"list_transform({arr}, x -> CAST(x AS DOUBLE))"


def _dk_dot(a: str, b: str) -> str:
    return f"list_reduce(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]), (s, x) -> s + x)"


def _dk_sqnorm(a: str) -> str:
    return f"list_reduce(list_transform({a}, x -> x*x), (s, x) -> s + x)"


def _dk_cosine(a: str, b: str) -> str:
    return (
        f"({_dk_dot(a, b)} / (sqrt({_dk_sqnorm(a)}) * sqrt({_dk_sqnorm(b)}) + 1e-12))"
    )


def _dk_euclid_sim(a: str, b: str) -> str:
    d = (
        f"sqrt(list_reduce(list_transform(list_zip({a}, {b}),"
        f" p -> (p[1]-p[2])*(p[1]-p[2])), (s, x) -> s + x))"
    )
    return f"(1.0 / (1.0 + {d}))"


def _dk_least_phi(m: str) -> str:
    terms = ", ".join(f"abs({m} - {p!r})" for p in PHI_POWERS)
    return f"least({terms})"


QUERY_FILTER = "vec_id % 100 = 3"  # 5 query vectors at sf0.01 (vec_id 3..403)


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


def _knn_query(metric: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = ensure_min_parallelism(
            load_table(spark, "embeddings", sf_dir),
            target=spark.sparkContext.defaultParallelism,
        )
        res = knn_search_batch(emb, _queries_df(spark, sf_dir), top_k=10, metric=metric)
        return res.select(
            "query_id",
            "vec_id",
            F.round("score", 9).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )

    return fn


def _knn_oracle(score_expr_fn, rank_only: bool = False) -> str:
    """One template for the scored (HOF-path) and rank-only (Arrow-path)
    k-NN oracles — the scoring CTE chain must never drift between the
    twins; only the final projection differs."""
    proj = (
        "query_id, vec_id, CAST(rank AS BIGINT) AS rank"
        if rank_only
        else "query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank"
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, {_dk_double('embedding')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double('embedding')} AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id, {score_expr_fn('cv', 'qv')} AS s
  FROM c CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT {proj}
FROM ranked WHERE rank <= 10
"""


def _knn_arrow_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow scale path (mapInPandas NumPy matmul, per-partition
    top-k) as a driver-checked query — rank-only output: np.dot's
    pairwise summation differs from the SQL fold in low-order score
    bits, but the resulting RANKS are deterministic on both sides and
    oracle-able (verified identical to the sequential-fold ranking;
    twin parity also pinned in test_search_arrow.py)."""
    emb = ensure_min_parallelism(
        load_table(spark, "embeddings", sf_dir),
        target=spark.sparkContext.defaultParallelism,
    )
    res = knn_search_batch_arrow(emb, _queries_df(spark, sf_dir), top_k=10)
    return res.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    )


_PHI_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, {_dk_double('embedding')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double('embedding')} AS cv FROM embeddings
), z AS (
  SELECT query_id, c.vec_id, cv, qv,
    list_transform(list_zip(cv, qv), p -> (abs(p[1]) + abs(p[2])) / 2.0 + 1e-12) AS am
  FROM c CROSS JOIN q
), w1 AS (
  SELECT *, list_transform(am, m -> 1.0 / ({_dk_least_phi('m')} + 1e-8)) AS w FROM z
), w2 AS (
  SELECT *, list_reduce(w, (s, x) -> s + x) + 1e-12 AS ws FROM w1
), w3 AS (
  SELECT query_id, vec_id,
    list_transform(list_zip(cv, w), p -> p[1] * (p[2] / ws)) AS wa,
    list_transform(list_zip(qv, w), p -> p[1] * (p[2] / ws)) AS wb
  FROM w2
), scored AS (
  SELECT query_id, vec_id, {_dk_cosine('wa', 'wb')} AS s FROM w3
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def _knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 with the outer-context pre-filter: each query only scores
    candidates sharing its label (ctx analog, FIXTURES.md). The filter is
    applied before scoring — at scale it prunes partitions."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = _queries_df(spark, sf_dir).join(
        load_table(spark, "embeddings", sf_dir).select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        ),
        "query_id",
    )
    joined = emb.join(F.broadcast(q), emb["label"] == q["qlabel"], "inner")
    from aeuc_vector_db_spark.functions.similarity import similarity_col

    scored = joined.select(
        "query_id",
        "vec_id",
        similarity_col(as_double("embedding"), as_double("query_embedding"), "cosine").alias(
            "s"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("s", 9).alias("score"),
                F.col("rank").cast("long").alias("rank"))
    )


_KNN_FILTERED_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, {_dk_double('embedding')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), scored AS (
  SELECT q.query_id, e.vec_id, {_dk_cosine(_dk_double('e.embedding'), 'qv')} AS s
  FROM embeddings e JOIN q ON e.label = q.qlabel
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Clustering queries (A8-A12)
# ---------------------------------------------------------------------------

def _centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    exploded = emb.select("label", F.posexplode(as_double("embedding")).alias("pos", "val"))
    return exploded.groupBy("label", "pos").agg(F.round(F.avg("val"), 9).alias("c"))


_CENTROIDS_ORACLE = """
SELECT label, pos, ROUND(AVG(val), 9) AS c
FROM (
  SELECT label,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
)
GROUP BY label, pos
"""


def _inertia_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cents = C.centroids(emb, ["label"])
    return C.inertia(emb, cents, ["label"]).select(
        "label", F.round("inertia", 6).alias("inertia")
    )


_INERTIA_ORACLE = """
WITH pts AS (
  SELECT label, vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, AVG(val) AS c FROM pts GROUP BY label, pos
)
SELECT pts.label, ROUND(SUM((val - c) * (val - c)), 6) AS inertia
FROM pts JOIN cent ON pts.label = cent.label AND pts.pos = cent.pos
GROUP BY pts.label
"""


def _form_pglyphs_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pg = C.form_pglyphs(emb, ["label"], id_col="vec_id")
    return pg.select("label", "pglyph_id", "member_count",
                     F.round("inertia", 6).alias("inertia"))


_FORM_PGLYPHS_ORACLE = """
WITH pts AS (
  SELECT label, vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), inert AS (
  -- algebraic form Σx² − n·c² per dim, mirroring the engine's fused
  -- single-scan aggregate (operators/clustering.py form_pglyphs)
  SELECT label, SUM(ss - n * c * c) AS inertia FROM (
    SELECT label, pos, SUM(val * val) AS ss, COUNT(*) AS n, AVG(val) AS c
    FROM pts GROUP BY label, pos
  ) GROUP BY label
), ids AS (
  SELECT label,
         sha256(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY CAST(vec_id AS VARCHAR)))
           AS pglyph_id,
         CAST(COUNT(*) AS BIGINT) AS member_count
  FROM embeddings GROUP BY label
)
SELECT ids.label, pglyph_id, member_count, ROUND(inertia, 6) AS inertia
FROM ids JOIN inert ON ids.label = inert.label
"""


def _phi_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    banded = C.with_phi_band(emb, levels=3)
    return banded.select("vec_id", F.col("band").cast("int").alias("band"),
                         F.round("norm", 9).alias("norm"))


def _phi_bands_oracle(levels: int = 3) -> str:
    fracs = _phi_break_fracs(levels)
    case = " ".join(
        f"WHEN n < mn + (mx - mn + 1e-12) * {f!r} THEN {i}" for i, f in enumerate(fracs)
    )
    return f"""
WITH norms AS (
  SELECT vec_id, sqrt({_dk_sqnorm(_dk_double('embedding'))}) AS n FROM embeddings
), mm AS (
  SELECT MIN(n) AS mn, MAX(n) AS mx FROM norms
)
SELECT vec_id, CAST(CASE {case} ELSE {levels - 1} END AS INTEGER) AS band,
       ROUND(n, 9) AS norm
FROM norms CROSS JOIN mm
"""


def _auto_cluster_phi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pg = C.auto_cluster_phi(emb, outer_context_id=None, levels=3)
    return pg.select(
        F.col("band").cast("int").alias("band"), "cluster_tag", "pglyph_id",
        "member_count", F.round("inertia", 6).alias("inertia"),
    )


def _auto_cluster_oracle(levels: int = 3) -> str:
    fracs = _phi_break_fracs(levels)
    case = " ".join(
        f"WHEN n < mn + (mx - mn + 1e-12) * {f!r} THEN {i}" for i, f in enumerate(fracs)
    )
    return f"""
WITH norms AS (
  SELECT vec_id, embedding, sqrt({_dk_sqnorm(_dk_double('embedding'))}) AS n FROM embeddings
), mm AS (
  SELECT MIN(n) AS mn, MAX(n) AS mx FROM norms
), banded AS (
  SELECT vec_id, embedding, CASE {case} ELSE {levels - 1} END AS band
  FROM norms CROSS JOIN mm
), pts AS (
  SELECT band, vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM banded
), inert AS (
  SELECT band, SUM(ss - n * c * c) AS inertia FROM (
    SELECT band, pos, SUM(val * val) AS ss, COUNT(*) AS n, AVG(val) AS c
    FROM pts GROUP BY band, pos
  ) GROUP BY band
), ids AS (
  SELECT band,
         sha256(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY CAST(vec_id AS VARCHAR)))
           AS pglyph_id,
         CAST(COUNT(*) AS BIGINT) AS member_count
  FROM banded GROUP BY band
)
SELECT CAST(ids.band AS INTEGER) AS band, 'phi_band_' || CAST(ids.band AS VARCHAR) AS cluster_tag,
       pglyph_id, member_count, ROUND(inertia, 6) AS inertia
FROM ids JOIN inert ON ids.band = inert.band
"""


def _search_pglyphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: coarse search over label-cluster centroids for query vec_id=3."""
    from aeuc_vector_db_spark.functions.similarity import similarity_col

    emb = load_table(spark, "embeddings", sf_dir)
    cents = C.centroids(emb, ["label"])
    q = emb.filter(F.col("vec_id") == 3).select(as_double("embedding").alias("qv"))
    scored = cents.crossJoin(F.broadcast(q)).select(
        "label", similarity_col(F.col("centroid"), F.col("qv"), "cosine").alias("s")
    )
    return scored.select("label", F.round("s", 9).alias("score"))


_SEARCH_PGLYPHS_ORACLE = f"""
WITH pts AS (
  SELECT label,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, AVG(val) AS c FROM pts GROUP BY label, pos
), cvec AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
), q AS (
  SELECT {_dk_double('embedding')} AS qv FROM embeddings WHERE vec_id = 3
)
SELECT label, ROUND({_dk_cosine('centroid', 'qv')}, 9) AS score
FROM cvec CROSS JOIN q
"""


# ---------------------------------------------------------------------------
# CRUD / digest / stats / import-export queries (A13-A24)
# ---------------------------------------------------------------------------

def _dataset_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.agg(
        F.sha2(
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("vec_id").cast("string")))),
            256,
        ).alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


_DIGEST_ORACLE = """
SELECT sha256(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY CAST(vec_id AS VARCHAR)))
         AS digest,
       CAST(COUNT(*) AS BIGINT) AS n
FROM embeddings
"""


def _stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 over the corpus; glyph_id/ctx derived per FIXTURES.md
    (vec_id % 144000, label % 10)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.agg(
        F.count(F.lit(1)).alias("iglyph_count"),
        F.count_distinct(F.col("vec_id") % 144000).alias("glyph_addresses_used"),
        F.count_distinct(F.col("label") % 10).alias("outer_contexts_used"),
    )


_STATS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS iglyph_count,
       CAST(COUNT(DISTINCT vec_id % 144000) AS BIGINT) AS glyph_addresses_used,
       CAST(COUNT(DISTINCT label % 10) AS BIGINT) AS outer_contexts_used
FROM embeddings
"""


def _point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.filter(F.col("vec_id") == 42).select(
        "vec_id", "label", F.size("embedding").cast("long").alias("dim")
    )


_POINT_LOOKUP_ORACLE = """
SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings WHERE vec_id = 42
"""


def _validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 as data: project synthetic glyph ids (vec_id*400 — some exceed
    143,999) and count pass/fail per constraint."""
    emb = load_table(spark, "embeddings", sf_dir)
    checked = emb.select(
        ((F.col("vec_id") * 400 >= 0) & (F.col("vec_id") * 400 <= 143999)).alias("glyph_ok"),
        ((F.col("label") >= 0) & (F.col("label") <= 9)).alias("ctx_ok"),
        (F.size("embedding") == 64).alias("dim_ok"),
    )
    return checked.agg(
        F.sum(F.when(F.col("glyph_ok"), 1).otherwise(0)).cast("long").alias("glyph_pass"),
        F.sum(F.when(F.col("ctx_ok"), 1).otherwise(0)).cast("long").alias("ctx_pass"),
        F.sum(F.when(F.col("dim_ok"), 1).otherwise(0)).cast("long").alias("dim_pass"),
        F.count(F.lit(1)).alias("total"),
    )


_VALIDATION_ORACLE = """
SELECT CAST(SUM(CASE WHEN vec_id * 400 BETWEEN 0 AND 143999 THEN 1 ELSE 0 END) AS BIGINT)
         AS glyph_pass,
       CAST(SUM(CASE WHEN label BETWEEN 0 AND 9 THEN 1 ELSE 0 END) AS BIGINT) AS ctx_pass,
       CAST(SUM(CASE WHEN len(embedding) = 64 THEN 1 ELSE 0 END) AS BIGINT) AS dim_pass,
       CAST(COUNT(*) AS BIGINT) AS total
FROM embeddings
"""


def _stability_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of the five maximal-stability singles — A2 search_pglyphs,
    A17 dataset_digest, A23 stats, A14 point_lookup, A24 validation_counts
    (reference vector_field.{search_pglyphs,digest,stats,get,validate}) —
    as tagged rows, so one driver-window slot carries all five checks.
    Schema: (part, k, v_str, v_num) — string payloads in v_str, numeric
    payloads as exact-in-double integers/rounded scores in v_num.  Each
    sub-result is a tiny single-row (or ≤10-row) aggregate; the union adds
    no shuffle beyond what the singles already did."""

    def melt_numeric(df: DataFrame, part_name: str) -> list[DataFrame]:
        return [
            df.select(
                F.lit(part_name).alias("part"),
                F.lit(c).alias("k"),
                F.lit(None).cast("string").alias("v_str"),
                F.col(c).cast("double").alias("v_num"),
            )
            for c in df.columns
        ]

    sp = _search_pglyphs(spark, sf_dir).select(
        F.lit("search_pglyphs").alias("part"),
        F.col("label").cast("string").alias("k"),
        F.lit(None).cast("string").alias("v_str"),
        F.col("score").cast("double").alias("v_num"),
    )
    dig = _dataset_digest(spark, sf_dir)
    pieces = [
        sp,
        dig.select(
            F.lit("dataset_digest").alias("part"),
            F.lit("digest").alias("k"),
            F.col("digest").alias("v_str"),
            F.lit(None).cast("double").alias("v_num"),
        ),
        dig.select(
            F.lit("dataset_digest").alias("part"),
            F.lit("n").alias("k"),
            F.lit(None).cast("string").alias("v_str"),
            F.col("n").cast("double").alias("v_num"),
        ),
    ]
    pieces += melt_numeric(_stats(spark, sf_dir), "stats")
    pieces += melt_numeric(_point_lookup(spark, sf_dir), "point_lookup")
    pieces += melt_numeric(_validation_counts(spark, sf_dir), "validation_counts")
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


_STABILITY_COMPOSITE_ORACLE = f"""
WITH sp AS ({_SEARCH_PGLYPHS_ORACLE}),
     dg AS ({_DIGEST_ORACLE}),
     st AS ({_STATS_ORACLE}),
     pl AS ({_POINT_LOOKUP_ORACLE}),
     vc AS ({_VALIDATION_ORACLE})
SELECT 'search_pglyphs' AS part, CAST(label AS VARCHAR) AS k,
       CAST(NULL AS VARCHAR) AS v_str, CAST(score AS DOUBLE) AS v_num FROM sp
UNION ALL SELECT 'dataset_digest', 'digest', digest, CAST(NULL AS DOUBLE) FROM dg
UNION ALL SELECT 'dataset_digest', 'n', NULL, CAST(n AS DOUBLE) FROM dg
UNION ALL SELECT 'stats', 'iglyph_count', NULL, CAST(iglyph_count AS DOUBLE) FROM st
UNION ALL SELECT 'stats', 'glyph_addresses_used', NULL, CAST(glyph_addresses_used AS DOUBLE) FROM st
UNION ALL SELECT 'stats', 'outer_contexts_used', NULL, CAST(outer_contexts_used AS DOUBLE) FROM st
UNION ALL SELECT 'point_lookup', 'vec_id', NULL, CAST(vec_id AS DOUBLE) FROM pl
UNION ALL SELECT 'point_lookup', 'label', NULL, CAST(label AS DOUBLE) FROM pl
UNION ALL SELECT 'point_lookup', 'dim', NULL, CAST(dim AS DOUBLE) FROM pl
UNION ALL SELECT 'validation_counts', 'glyph_pass', NULL, CAST(glyph_pass AS DOUBLE) FROM vc
UNION ALL SELECT 'validation_counts', 'ctx_pass', NULL, CAST(ctx_pass AS DOUBLE) FROM vc
UNION ALL SELECT 'validation_counts', 'dim_pass', NULL, CAST(dim_pass AS DOUBLE) FROM vc
UNION ALL SELECT 'validation_counts', 'total', NULL, CAST(total AS DOUBLE) FROM vc
"""


def _import_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 dup-skip semantics: incoming batch = every 5th row re-imported
    plus 10 genuinely-new ids (vec_id+1000); left_anti against the corpus
    keeps only the new ones."""
    emb = load_table(spark, "embeddings", sf_dir)
    incoming = emb.filter(F.col("vec_id") % 5 == 0).unionByName(
        emb.filter(F.col("vec_id") % 50 == 0).withColumn("vec_id", F.col("vec_id") + 1000)
    )
    imported = incoming.join(emb.select("vec_id"), "vec_id", "left_anti")
    return imported.groupBy("label").agg(F.count(F.lit(1)).alias("imported")).orderBy("label")


_IMPORT_DEDUP_ORACLE = """
WITH incoming AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + 1000 AS vec_id, label FROM embeddings WHERE vec_id % 50 = 0
), imported AS (
  SELECT i.* FROM incoming i ANTI JOIN embeddings e ON i.vec_id = e.vec_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS imported FROM imported GROUP BY label
"""


def _delete_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16+A19: delete vec_id % 7 = 0, then recompute per-label cluster
    stats from the survivors."""
    emb = load_table(spark, "embeddings", sf_dir)
    doomed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    remaining = emb.join(doomed, "vec_id", "left_anti")
    cents = C.centroids(remaining, ["label"])
    inert = C.inertia(remaining, cents, ["label"])
    counts = remaining.groupBy("label").agg(F.count(F.lit(1)).alias("member_count"))
    return counts.join(inert, "label").select(
        "label", "member_count", F.round("inertia", 6).alias("inertia")
    )


_DELETE_RECOMPUTE_ORACLE = """
WITH remaining AS (
  SELECT * FROM embeddings WHERE vec_id % 7 <> 0
), pts AS (
  SELECT label, vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM remaining
), cent AS (
  SELECT label, pos, AVG(val) AS c FROM pts GROUP BY label, pos
), inert AS (
  SELECT pts.label, SUM((val - c) * (val - c)) AS inertia
  FROM pts JOIN cent ON pts.label = cent.label AND pts.pos = cent.pos
  GROUP BY pts.label
), counts AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS member_count FROM remaining GROUP BY label
)
SELECT counts.label, member_count, ROUND(inertia, 6) AS inertia
FROM counts JOIN inert ON counts.label = inert.label
"""


def _export_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 ordered-export semantics over the events table (ts-sorted scan
    with a unique tiebreak), timestamps as epoch micros."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    )


_EXPORT_ORDERED_ORACLE = """
SELECT event_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us, event_type
FROM events ORDER BY ts ASC, event_id ASC LIMIT 100
"""


def _rt_workdir(kind: str, fresh: bool = False) -> str:
    """Per-process stable scratch dir for the format round-trip parts:
    repeated invocations overwrite ONE copy instead of leaking a fresh
    mkdtemp per call (review r15 — a sweep invokes these parts
    repeatedly and nothing ever cleaned the copies). `fresh=True`
    clears the dir first: the append-only offset log would otherwise
    double-append on re-invocation."""
    import os
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"aeuc_rt_{kind}_{os.getpid()}")
    if fresh and os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    return d


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink (round 15): write a typed lineitem projection to
    ORC partitioned by l_returnflag, read it back through a filter that
    must split into a PartitionFilter (returnflag, directory pruning)
    plus a PushedFilter (quantity, ORC row-group pruning — plan-gated
    in tests/test_plans.py), and aggregate. The DuckDB oracle computes
    the same aggregate from the PARQUET table, so a hash match proves
    the ORC hop preserved bigints, doubles, strings, and timestamps
    bit-exactly. Decimal-cast sums per the repo's money-determinism
    rule. At scale this is the same sink/scan pair a 100 TB pipeline
    would use for an ORC-standardized lake: partition dirs prune before
    I/O, predicates reach the ORC reader, no shuffle beyond the final
    aggregate."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate"
    )
    path = _rt_workdir("orc") + "/li"
    li.write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    back = spark.read.orc(path).filter(
        (F.col("l_returnflag") != "R") & (F.col("l_quantity") > 25)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
         .cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
         .cast("double").alias("sum_price"),
        F.max(F.unix_micros("l_shipdate")).alias("max_ship_us"),
    )


_ORC_ROUNDTRIP_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(epoch_us(MAX(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS max_ship_us
FROM lineitem
WHERE l_returnflag <> 'R' AND l_quantity > 25
GROUP BY l_returnflag
"""


def _csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink (round 15): write events to headered CSV with an
    explicit microsecond timestamp format, read it back under an
    explicit schema (never inference — schema drift on a 100 TB lake
    must fail loud, not guess), and aggregate. Hash-matching the
    parquet-sourced oracle proves the text hop round-trips bigints,
    timestamps (to the microsecond), quoted JSON strings (comma/quote
    content), and doubles (Spark writes shortest-repr doubles that
    reparse exactly; min/max are order-insensitive and bit-exact —
    deliberately NOT a float sum, which the repo's determinism rule
    reserves for decimal quantities)."""
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = _rt_workdir("csv") + "/ev"
    (ev.write.mode("overwrite").option("header", True)
       .option("timestampFormat", fmt).csv(path))
    back = (
        spark.read
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING")
        .option("header", True).option("timestampFormat", fmt)
        .csv(path)
    )
    return _events_roundtrip_agg(back)


_CSV_ROUNDTRIP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars
FROM events
GROUP BY event_type
"""


def _events_roundtrip_agg(back: DataFrame) -> DataFrame:
    """Shared per-type aggregate for the events format-hop parts (CSV /
    XML): every column's survival is observable in the hash — exact
    int sums, microsecond timestamps, order-insensitive double
    min/max, and string lengths (quoting/escaping proof)."""
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_ids"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.length("props")).alias("props_chars"),
    )


def _xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink (round 15, Spark 4 native StAX source): events
    through <events><event>…</event></events> documents with explicit
    microsecond timestamps, read back under an explicit schema. The
    props column is JSON text whose quotes ride XML escaping — the
    props_chars hash proves escape/unescape is lossless. Oracle shared
    with csv_roundtrip (same parquet-sourced aggregate; only the
    format hop differs). Avro is the one Spark bundled format NOT
    exercised: the spark-avro connector jar is absent from this
    sandbox's pyspark distribution (only avro core libs ship), so it
    stays a documented environment gap, not a code gap."""
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = _rt_workdir("xml") + "/ev"
    (ev.write.mode("overwrite").format("xml")
       .option("rootTag", "events").option("rowTag", "event")
       .option("timestampFormat", fmt).save(path))
    back = (
        spark.read.format("xml").option("rowTag", "event")
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING")
        .option("timestampFormat", fmt).load(path)
    )
    return _events_roundtrip_agg(back)


def _pyds_offsetlog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource round trip (round 15, Spark 4 pyspark.sql.
    datasource): events rows become compact-JSON payloads routed to 4
    log partitions by event_id, written through the aeuc_offsetlog
    TWO-PHASE-COMMIT writer (executors stage, the driver appends —
    dense offsets, index maintained), read back via the chunk-planned
    batch reader (each task seeks its byte range through the sidecar
    index), parsed with from_json under the same explicit timestamp
    format, and aggregated. Oracle shared with csv/xml_roundtrip: the
    same aggregate from parquet — a hash match proves the custom
    source/sink pair preserved every value bit-exactly through the
    JSON hop. See sources/pyds.py for the 100 TB shapes (partition
    planning, pushdown, exactly-once streaming)."""
    from aeuc_vector_db_spark.sources import pyds

    pyds.register(spark)
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = _rt_workdir("pyds", fresh=True) + "/log"
    payload = ev.select(
        (F.col("event_id") % 4).cast("int").alias("partition"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type",
                     "value", "props"),
            {"timestampFormat": fmt},
        ).alias("value"),
    )
    (payload.write.format("aeuc_offsetlog").option("path", path)
            .option("n_partitions", "4").mode("append").save())
    back = (spark.read.format("aeuc_offsetlog").option("path", path)
            .option("n_partitions", "4").load())
    parsed = back.select(
        F.from_json("value", ev.schema, {"timestampFormat": fmt}).alias("r")
    ).select("r.*")
    return _events_roundtrip_agg(parsed)


def _embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 hygiene: L2-normalize, report per-row norm before/after."""
    from aeuc_vector_db_spark.functions.vector import l2_norm_col, l2_normalize_col

    emb = load_table(spark, "embeddings", sf_dir)
    return emb.select(
        "vec_id",
        F.round(l2_norm_col(as_double("embedding")), 9).alias("norm"),
        F.round(l2_norm_col(l2_normalize_col(as_double("embedding"))), 6).alias("unit_norm"),
    )


_NORMALIZE_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_dk_double('embedding')} AS a FROM embeddings
), n AS (
  SELECT vec_id, a, sqrt({_dk_sqnorm('a')}) AS nrm FROM base
), u AS (
  SELECT vec_id, nrm, list_transform(a, x -> x / (nrm + 1e-12)) AS ua FROM n
)
SELECT vec_id, ROUND(nrm, 9) AS norm, ROUND(sqrt({_dk_sqnorm('ua')}), 6) AS unit_norm
FROM u
"""


_MAXSIM_SUB = 4  # 64-dim fixture vectors viewed as 4 × 16-dim subvectors


def _maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020,
    SIGIR) top-k: each 64-dim vector is viewed as 4 × 16-dim subvectors
    (a multi-vector representation); score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ).
    Same plan shape as the flat k-NN family — broadcast query batch,
    corpus never shuffles by key, WindowGroupLimit top-k — with a
    16-term scoring expression staying entirely JVM-side. The sum is
    explicit left-to-right and `greatest` is exact, so the DuckDB
    oracle (same slices, same sequential cosine folds) hash-matches
    scores.

    Optimization round 16 (guide §1.2 per-task work — the same hoist
    knn_cosine_range and embedding_near_dup carry since r15): each
    side's 4 subvector norms fold ONCE PER ROW instead of inside every
    of the 16 per-pair cosine terms — cosine_col(q_i, c_j) expanded to
    dot + BOTH norm folds per term, 3× the interpreted-lambda work over
    corpus×queries pairs. The hoisted norm is the same l2 fold over the
    same slice and the score is dot/(qn_i·cn_j + 1e-12) — identical
    operands in identical order, so every pair's score is bit-for-bit
    unchanged (oracle-verified at 3 SFs). The corpus scan is also
    spread (ensure_min_parallelism): the single-file fixture scan
    serialized the whole interpreted scorer on one task."""
    from aeuc_vector_db_spark.functions.vector import dot_col, l2_norm_col

    emb = ensure_min_parallelism(load_table(spark, "embeddings", sf_dir))

    def sub(c, i: int):
        return F.slice(c, i * 16 + 1, 16)

    corpus = emb.select("vec_id", as_double("embedding").alias("cv")).select(
        "vec_id",
        "cv",
        *[l2_norm_col(sub(F.col("cv"), jj)).alias(f"cn{jj}")
          for jj in range(_MAXSIM_SUB)],
    )
    qs = _queries_df(spark, sf_dir).select(
        "query_id", as_double("query_embedding").alias("qv")
    )
    qs = qs.select(
        "query_id",
        "qv",
        *[l2_norm_col(sub(F.col("qv"), i)).alias(f"qn{i}")
          for i in range(_MAXSIM_SUB)],
    )
    j = corpus.crossJoin(F.broadcast(qs))

    def term(i: int, jj: int):
        # == cosine_col(sub(qv, i), sub(cv, jj)) with the norms hoisted:
        # dot / (norm_q * norm_c + 1e-12), same operand order
        return dot_col(sub(F.col("qv"), i), sub(F.col("cv"), jj)) / (
            F.col(f"qn{i}") * F.col(f"cn{jj}") + F.lit(1e-12)
        )

    maxes = [
        F.greatest(*[term(i, jj) for jj in range(_MAXSIM_SUB)])
        for i in range(_MAXSIM_SUB)
    ]
    score = maxes[0] + maxes[1] + maxes[2] + maxes[3]
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("vec_id").asc()
    )
    return (
        j.select("query_id", "vec_id", score.alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "vec_id", F.round("s", 9).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _dk_maxsim(cv: str, qv: str) -> str:
    def sl(c: str, i: int) -> str:
        return f"{c}[{i * 16 + 1}:{(i + 1) * 16}]"

    maxes = [
        "greatest(" + ", ".join(_dk_cosine(sl(qv, i), sl(cv, jj))
                                for jj in range(_MAXSIM_SUB)) + ")"
        for i in range(_MAXSIM_SUB)
    ]
    return "(" + " + ".join(maxes) + ")"


def _emb_drift_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus halves (vec_id
    parity stands in for old-crawl/new-crawl): centroid-vs-centroid
    cosine, the largest per-dimension centroid shift, and half sizes.
    The monitoring read a training pipeline runs between ingest waves —
    a cosine dropping from ~1 or a dimension shifting alone flags an
    upstream encoder/preprocessing change before any model trains on
    it. One grouped centroid aggregate (2 groups) + a 2-row comparison:
    nothing here scales with corpus size except the map-side partial
    averages."""
    emb = load_table(spark, "embeddings", sf_dir)
    halves = emb.withColumn("half", (F.col("vec_id") % 2).cast("int"))
    cents = C.centroids(halves, ["half"])
    a = cents.filter(F.col("half") == 0).select(F.col("centroid").alias("ca"))
    b = cents.filter(F.col("half") == 1).select(F.col("centroid").alias("cb"))
    counts = halves.groupBy("half").agg(F.count(F.lit(1)).alias("n"))
    n0 = counts.filter(F.col("half") == 0).select(F.col("n").alias("n_old"))
    n1 = counts.filter(F.col("half") == 1).select(F.col("n").alias("n_new"))
    from aeuc_vector_db_spark.functions.similarity import cosine_col

    return (
        a.crossJoin(b).crossJoin(n0).crossJoin(n1)
        .select(
            "n_old",
            "n_new",
            F.round(cosine_col(F.col("ca"), F.col("cb")), 9).alias(
                "centroid_cosine"
            ),
            F.round(
                F.array_max(
                    F.zip_with("ca", "cb", lambda x, y: F.abs(x - y))
                ),
                9,
            ).alias("max_dim_shift"),
        )
    )


_EMB_DRIFT_ORACLE = f"""
WITH pts AS (
  SELECT CAST(vec_id % 2 AS INTEGER) AS half,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT half, pos, AVG(val) AS c FROM pts GROUP BY half, pos
), cvec AS (
  SELECT half, list(c ORDER BY pos) AS centroid FROM cent GROUP BY half
), n AS (
  SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM embeddings
)
SELECT n_old, n_new,
       ROUND({_dk_cosine('a.centroid', 'b.centroid')}, 9) AS centroid_cosine,
       ROUND(list_max(list_transform(list_zip(a.centroid, b.centroid),
                                     p -> abs(p[1] - p[2]))), 9) AS max_dim_shift
FROM (SELECT centroid FROM cvec WHERE half = 0) a
CROSS JOIN (SELECT centroid FROM cvec WHERE half = 1) b
CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# Radius (range) search (round 9): every corpus vector whose cosine to
# the query clears a threshold — the thresholded dual of top-k (the
# reference's A1 surfaces only top-k; range search is its standard
# companion, e.g. FAISS range_search). Plan shape: broadcast the query
# batch, score inside whole-stage codegen, filter — the corpus never
# shuffles; output size is data-dependent, which is exactly what the
# oracle pins (a wrong scoring fold changes membership, not just order).
# ---------------------------------------------------------------------------

_RANGE_THRESHOLD = 0.2


def _knn_cosine_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aeuc_vector_db_spark.functions.vector import dot_col, l2_norm_col

    # optimization round 15: the interpreted per-pair dot fold is the
    # whole query (map-side broadcast cross), and the single-file scan
    # serialized it on one task — spread the corpus, results unchanged
    emb = ensure_min_parallelism(load_table(spark, "embeddings", sf_dir))
    # norms precomputed ONCE PER ROW, not per pair: the HOF lambdas are
    # interpreted (not codegen'd), so folding each side's sqnorm inside
    # the pair expression tripled the lambda work (measured 0.46 s →
    # 0.34 s hot at sf0.1; the residual is the per-pair dot fold —
    # the Arrow matmul path in operators/search.py is the scale answer
    # when radius search outgrows the HOF form). Same fold over the
    # same input ⇒ the same double bits as the oracle's per-pair
    # formulation.
    corpus = emb.select(
        "vec_id",
        as_double("embedding").alias("cv"),
    ).withColumn("cn", l2_norm_col("cv"))
    qs = (
        _queries_df(spark, sf_dir)
        .select("query_id", as_double("query_embedding").alias("qv"))
        .withColumn("qn", l2_norm_col("qv"))
    )
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        (dot_col("cv", "qv") / (F.col("cn") * F.col("qn") + F.lit(1e-12))).alias("s"),
    )
    return scored.filter(F.col("s") >= F.lit(_RANGE_THRESHOLD)).select(
        "query_id", "vec_id", F.round("s", 9).alias("score")
    )


_KNN_RANGE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, {_dk_double('embedding')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double('embedding')} AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id, {_dk_cosine('cv', 'qv')} AS s
  FROM c CROSS JOIN q
)
SELECT query_id, vec_id, ROUND(s, 9) AS score
FROM scored WHERE s >= {_RANGE_THRESHOLD}
"""


QUERIES = {
    "knn_cosine_range": (_knn_cosine_range, _KNN_RANGE_ORACLE),
    "emb_drift_split_stats": (_emb_drift_split_stats, _EMB_DRIFT_ORACLE),
    "knn_maxsim_topk": (_maxsim_topk, _knn_oracle(_dk_maxsim)),
    "knn_cosine_topk": (_knn_query("cosine"), _knn_oracle(_dk_cosine)),
    "knn_euclidean_topk": (_knn_query("euclidean"), _knn_oracle(_dk_euclid_sim)),
    "knn_dot_topk": (_knn_query("dot"), _knn_oracle(_dk_dot)),
    "knn_phi_topk": (_knn_query("phi_weighted"), _PHI_ORACLE),
    "knn_cosine_filtered": (_knn_filtered, _KNN_FILTERED_ORACLE),
    "knn_cosine_arrow_topk": (_knn_arrow_rank, _knn_oracle(_dk_cosine, rank_only=True)),
    # round 8: the five maximal-stability singles (search_pglyphs,
    # dataset_digest, stats, point_lookup, validation_counts — green since
    # r03/r05) collapsed into one tagged-rows composite so they cost one
    # driver-window slot instead of five. The underlying callables remain
    # individually plan-gated in tests/test_plans.py.
    "core_stability_composite": (_stability_composite, _STABILITY_COMPOSITE_ORACLE),
}

def _emb_rotation_apply_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROTATION-apply arithmetic of the OPQ family, hash-matched
    (round 15 — the fourth rows-only family's serve half, after the
    PQ/BPE/cell-assign twins): `rotate_vectors` — the exact Arrow
    matmul kernel `ann_opq_recall` serves with — under the literal
    orthogonal dyadic Sylvester–Hadamard rotation
    (`operators/ann.py literal_rotation`, entries ±1/8) over
    dyadic-quantized embeddings. Every product/partial sum is an exact
    dyadic rational, so the BLAS `matv @ R` matches the DuckDB
    sum-over-range mirror bit-for-bit (no rounding anywhere). Output
    per vector: the first 8 rotated components verbatim plus a
    position-weighted full-vector checksum Σ r_j·(j+1)/64 — exact, and
    sensitive to any mis-permuted/mis-signed dimension an
    orthogonality-preserving bug would hide from a plain norm.
    Training (the OPQ Procrustes alternation) stays rows-only in
    ann_opq_recall by necessity. Rides cluster_family_composite."""
    from aeuc_vector_db_spark.functions.vector import quantize_dyadic_col
    from aeuc_vector_db_spark.operators.ann import literal_rotation, rotate_vectors

    emb = load_table(spark, "embeddings", sf_dir)
    quant = emb.select("vec_id", quantize_dyadic_col("embedding").alias("qv"))
    rot = rotate_vectors(quant, literal_rotation(64), vec_col="qv", out_col="r")
    wsum = F.aggregate(
        F.zip_with(
            F.col("r"),
            F.transform(F.sequence(F.lit(1), F.lit(64)),
                        lambda j: j.cast("double") / F.lit(64.0)),
            lambda r, w: r * w,
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return rot.select(
        "vec_id",
        *[F.col("r")[i].alias(f"p{i + 1}") for i in range(8)],
        wsum.alias("wsum"),
    ).orderBy("vec_id")


_ROTATION_APPLY_ORACLE = """
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(CAST(x AS DOUBLE)*64 + 0.5)/64) AS v
  FROM embeddings
),
rot AS (
  SELECT a.i, b.j,
         CASE WHEN bit_count(CAST(a.i AS BIGINT) & CAST(b.j AS BIGINT)) % 2 = 0
              THEN 0.125 ELSE -0.125 END AS rv
  FROM range(64) a(i) CROSS JOIN range(64) b(j)
),
comp AS (
  -- out[j] = Σ_i v[i]·R[i][j]  (rotate_vectors computes matv @ R);
  -- every product is dyadic-exact, so SUM is order-free
  SELECT eq.vec_id, rot.j, SUM(eq.v[rot.i + 1] * rot.rv) AS r
  FROM eq CROSS JOIN rot
  GROUP BY eq.vec_id, rot.j
)
SELECT vec_id,
       MAX(CASE WHEN j = 0 THEN r END) AS p1,
       MAX(CASE WHEN j = 1 THEN r END) AS p2,
       MAX(CASE WHEN j = 2 THEN r END) AS p3,
       MAX(CASE WHEN j = 3 THEN r END) AS p4,
       MAX(CASE WHEN j = 4 THEN r END) AS p5,
       MAX(CASE WHEN j = 5 THEN r END) AS p6,
       MAX(CASE WHEN j = 6 THEN r END) AS p7,
       MAX(CASE WHEN j = 7 THEN r END) AS p8,
       SUM(r * (j + 1) / 64.0) AS wsum
FROM comp
GROUP BY vec_id
"""


# Round 14 (VERDICT r13 #2): long-green singles folded into the tagged
# composites in queries/composites.py — the cluster family rides
# cluster_family_composite, the I/O round-trips ride
# io_roundtrip_composite. Each entry keeps its (fn, oracle) pair here so
# the composite reuses the arithmetic verbatim and tests/bench can still
# drive the callables individually. Round 15 adds
# emb_rotation_apply_literal as a NEW part (never a single): the OPQ
# serve half under a literal orthogonal dyadic rotation.
FOLDED = {
    "emb_rotation_apply_literal": (_emb_rotation_apply_literal,
                                   _ROTATION_APPLY_ORACLE),
    "centroids_by_label": (_centroids_by_label, _CENTROIDS_ORACLE),
    "inertia_by_label": (_inertia_by_label, _INERTIA_ORACLE),
    "form_pglyphs_by_label": (_form_pglyphs_by_label, _FORM_PGLYPHS_ORACLE),
    "phi_bands": (_phi_bands, _phi_bands_oracle(3)),
    "auto_cluster_phi": (_auto_cluster_phi, _auto_cluster_oracle(3)),
    "import_dedup": (_import_dedup, _IMPORT_DEDUP_ORACLE),
    "delete_recompute": (_delete_recompute, _DELETE_RECOMPUTE_ORACLE),
    "export_ordered": (_export_ordered, _EXPORT_ORDERED_ORACLE),
    "embedding_normalize": (_embedding_normalize, _NORMALIZE_ORACLE),
    "orc_roundtrip": (_orc_roundtrip, _ORC_ROUNDTRIP_ORACLE),
    "csv_roundtrip": (_csv_roundtrip, _CSV_ROUNDTRIP_ORACLE),
    # same oracle as csv_roundtrip on purpose: only the format hop
    # differs, and each part's hash is tagged by part name in the melt
    "xml_roundtrip": (_xml_roundtrip, _CSV_ROUNDTRIP_ORACLE),
    "pyds_offsetlog_roundtrip": (_pyds_offsetlog_roundtrip,
                                 _CSV_ROUNDTRIP_ORACLE),
}
