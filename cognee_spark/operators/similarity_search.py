"""Vector similarity search over an embeddings table — SURVEY R1/R6.

The reference's retrieval core is brute-force cosine top-k per collection
(brute_force_triplet_search.py:282-309, LanceDBAdapter ANN). Two paths:

- brute_force_topk: exact cosine over all rows — whole-stage codegen via
  F.zip_with/F.aggregate (no Python), broadcast of the (small) query set,
  one ordered limit for a one-query frame, per-query window rank for many.
  The correctness baseline and the right answer below ~10M vectors per
  partition-pruned slice.

- ivf blocking: k-means-lite coarse quantizer (deterministic seeded centroid
  init + a few Lloyd iterations over a sample), assign every vector to its
  nearest centroid (`ivf_assign`), then search only the query's nprobe
  nearest cells — the 100 TB path: turns a full scan into a partition-pruned
  scan of nprobe/ncells of the data.

All scores are plain cosine so a DuckDB oracle (list_cosine_similarity) can
replay them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k by cosine for each query row: (query_id, vec_id, cosine,
    *keep, rank); ``keep`` names passenger columns of ``embeddings``.

    The query side is broadcast (queries are user requests — always tiny
    relative to the corpus); the corpus side streams through codegen. A
    query frame whose plan proves at most one row (a ``row_frame``
    LocalRelation) takes one ordered limit, TakeOrderedAndProject; any other
    frame ranks per query in a window.
    """
    from pyspark.sql.window import Window

    from cognee_spark.functions.broadcast import plan_max_rows
    from cognee_spark.operators.retrieval import ranked_topk

    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("vn"),
        *keep,
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
            _norm(F.col(query_vec_col)).alias("qn"),
        )
    )
    scored = base.crossJoin(q).select(
        "query_id",
        "vec_id",
        (_dot(F.col("v"), F.col("qv")) / (F.col("vn") * F.col("qn"))).alias("cosine"),
        *keep,
    )
    order = [F.desc("cosine"), F.asc("vec_id")]
    max_rows = plan_max_rows(queries)
    if max_rows is not None and max_rows <= 1:
        return ranked_topk(scored, order, k)
    window = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .where(F.col("rank") <= k)
    )


def train_centroids(
    spark: SparkSession,
    embeddings: DataFrame,
    n_cells: int = 16,
    iterations: int = 5,
    sample_fraction: float = 1.0,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic coarse quantizer: seeded init + Lloyd over a sample.

    Returns driver-side centroids (n_cells × dim — a few KB; broadcast by the
    callers). At 100 TB the sample_fraction keeps training O(sample)."""
    sample = embeddings.select(F.col(vec_col).alias("v"))
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    init = [r.v for r in sample.limit(n_cells * 50).collect()][:: 50][:n_cells]
    centroids = [list(map(float, v)) for v in init]
    for _ in range(iterations):
        c = F.array(*[F.array(*[F.lit(x) for x in cent]) for cent in centroids])
        assigned = sample.select(
            "v",
            F.array_position(
                F.transform(c, lambda cent: _dot(F.col("v"), cent)),
                F.array_max(F.transform(c, lambda cent: _dot(F.col("v"), cent))),
            ).alias("cell"),
        )
        # per-(cell, dimension) mean via posexplode — the aggregation state per
        # group is ONE double, never a collected list of full vectors (a cell
        # holding millions of sample vectors would OOM a collect_list state)
        agg = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("mean_x"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mean_x"))).alias("dims")
            )
            .select("cell", F.col("dims.mean_x").alias("mean"))
            .collect()
        )
        for row in agg:
            if row.cell is not None and 1 <= row.cell <= len(centroids):
                centroids[row.cell - 1] = [float(x) for x in row.mean]
    return centroids


def deterministic_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Fixed md5-derived coarse centroids (no training): component[c][j] =
    md5("ivf{c}|{j}") scaled to [-1, 1]. Lets the assign/probe machinery be
    exercised — and replayed bit-for-bit by a DuckDB oracle — without
    requiring SQL to replay Lloyd iterations; production trains with
    ``train_centroids`` instead."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"ivf{c}|{j}".encode()).hexdigest()[:8], 16)
            / 0xFFFFFFFF
            * 2.0
            - 1.0
            for j in range(dim)
        ]
        for c in range(n_cells)
    ]


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a `cell` column = argmax dot(v, centroid). Write partitioned by
    cell; queries then scan only nprobe cells (partition pruning)."""
    c = F.array(*[F.array(*[F.lit(x) for x in cent]) for cent in centroids])
    scores = F.transform(c, lambda cent: _dot(F.col(vec_col), cent))
    return embeddings.withColumn("cell", F.array_position(scores, F.array_max(scores)).cast("int"))


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: per query, search only its nprobe nearest cells."""
    c = F.array(*[F.array(*[F.lit(x) for x in cent]) for cent in centroids])
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
    ).withColumn("_cscores", F.transform(c, lambda cent: _dot(F.col("query_vec"), cent)))
    order = F.expr(
        "transform(array_sort(arrays_zip(_cscores, sequence(1, size(_cscores))),"
        " (l, r) -> case when l._cscores > r._cscores then -1 when l._cscores < r._cscores then 1 else 0 end),"
        " z -> z['1'])"
    )
    q = q.withColumn("cells", F.slice(order, 1, nprobe)).drop("_cscores")
    probe = q.select("query_id", "query_vec", F.explode("cells").alias("cell"))
    candidates = assigned.join(F.broadcast(probe), "cell")
    scored = candidates.select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        (
            _dot(F.col(vec_col), F.col("query_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("query_vec")))
        ).alias("cosine"),
    )
    from pyspark.sql.window import Window

    window = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(window)).where(F.col("rank") <= k)
