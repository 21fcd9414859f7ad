"""Training-data operators: dedup, similarity search, text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_duplicates(spark):
    from cognee_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "different"), (4, "same text")],
        ["doc_id", "text"],
    )
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0].dup_count == 3 and groups[0].doc_ids == [1, 2, 4]


def _documents_dir(spark, tmp_path, rows):
    """``rows`` as the ``documents`` table of an sf directory, the input
    shape the ``__spark_entry__`` dedup queries read."""
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_minhash_candidates_catch_near_dups(spark, docs, tmp_path):
    import __spark_entry__ as entry
    from cognee_spark.operators.dedup import shingle_min_signatures

    # two docs sharing a long prefix must co-bucket, so the min-shingle
    # candidate step of the minhash→verify ladder hands them to the verifier
    sf_dir = _documents_dir(
        spark,
        tmp_path,
        [
            (1, "the quick brown fox jumps over the lazy dog in the park"),
            (2, "the quick brown fox jumps over the lazy dog in the yard"),
            (3, "completely unrelated content about spark aggregation"),
        ],
    )
    pairs = {(r.a, r.b) for r in entry.minhash_jaccard_pairs(spark, sf_dir).collect()}
    assert (1, 2) in pairs
    assert not pairs & {(1, 3), (2, 3)}
    # runs on real corpus without error
    shingle_min_signatures(docs).count()


def test_simhash_duplicates(spark, tmp_path):
    import __spark_entry__ as entry

    base = "token" + " token".join(str(i) for i in range(60))
    sf_dir = _documents_dir(
        spark, tmp_path, [(1, base), (2, base + " extra"), (3, "something else entirely ok")]
    )
    sig = {r.doc_id: r.simhash for r in entry.simhash_signatures(spark, sf_dir).collect()}

    def hamming(a, b):
        return bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1")

    assert hamming(1, 2) <= 8
    assert hamming(1, 3) > 8


def test_ngram_jaccard_verify(spark):
    from cognee_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "z y x w v u t s")],
        ["doc_id", "text"],
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    out = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(df, cands, threshold=0.0).collect()}
    assert out[(1, 2)] > 0.5 and out[(1, 3)] == 0.0


def test_brute_force_topk_matches_duckdb(spark, embeddings):
    import duckdb

    from cognee_spark.operators.similarity_search import brute_force_topk

    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in brute_force_topk(embeddings, queries, k=5).collect()
    }
    oracle = duckdb.sql(
        f"""
        WITH e AS (SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')),
        q AS (SELECT vec_id qid, embedding qv FROM e ORDER BY vec_id LIMIT 3)
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                   ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id) rnk
        FROM e, q QUALIFY rnk <= 5
        """
    ).fetchall()
    for qid, vec_id, rank in oracle:
        assert got[(qid, rank)] == vec_id, (qid, rank)


def test_ivf_recall(spark, embeddings):
    from cognee_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        train_centroids,
    )

    centroids = train_centroids(spark, embeddings, n_cells=8, iterations=3)
    assert len(centroids) == 8
    assigned = ivf_assign(embeddings, centroids).cache()
    # all rows land in a valid cell
    assert assigned.where((F.col("cell") < 1) | (F.col("cell") > 8)).count() == 0
    queries = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = ivf_topk(assigned, centroids, queries, k=5, nprobe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall  # nprobe=4 of 8 cells


def test_embedding_duplicates_lsh_recall(spark, embeddings):
    """Blocked LSH path vs brute force on planted near-dups: recall >= 0.95
    at the production threshold, zero false positives by construction (exact
    verify step)."""
    import random

    from cognee_spark.operators.dedup import (
        embedding_duplicates,
        embedding_duplicates_bruteforce,
    )

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        # planted near-dup: tiny perturbation → cosine ~0.999
        rows.append((1000 + i, [x + rng.gauss(0, 0.01) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.a, r.b)
        for r in embedding_duplicates_bruteforce(df, threshold=0.95).collect()
    }
    blocked = {
        (r.a, r.b) for r in embedding_duplicates(df, threshold=0.95, dim=64).collect()
    }
    assert len(exact) >= 40  # the plant worked
    assert blocked <= exact  # verification step ⇒ no false positives
    assert len(blocked & exact) / len(exact) >= 0.95

    # runs over the real table (no near-dups there at 0.95)
    assert embedding_duplicates(embeddings, threshold=0.95, dim=64).count() == 0


def test_embedding_duplicates_unroll_paths_identical(spark):
    """The size-gated signature paths — unrolled whole-stage-codegen (the
    100 TB path) and interpreted HOF (small interactive corpora) — fold the
    same dot products in the same order, so pairs AND cosines are identical."""
    import random

    from cognee_spark.operators.dedup import embedding_duplicates

    rng = random.Random(11)
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, v))
        rows.append((1000 + i, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    unrolled = {
        (r.a, r.b, r.cosine)
        for r in embedding_duplicates(df, threshold=0.9, dim=64, unroll=True).collect()
    }
    interp = {
        (r.a, r.b, r.cosine)
        for r in embedding_duplicates(df, threshold=0.9, dim=64, unroll=False).collect()
    }
    assert len(unrolled) >= 25
    assert unrolled == interp


def test_probe_vector_dim_skips_null_rows(spark):
    """A null vector in the first scanned row (e.g. an embedding recorded for
    a chunk later filtered out) must not poison the inferred LSH dimension;
    an all-null frame raises instead of returning None."""
    import pytest

    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from cognee_spark.operators.dedup import probe_vector_dim

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [(0, None), (1, [0.1, 0.2, 0.3])], schema
    ).coalesce(1)
    assert probe_vector_dim(df, "embedding") == 3

    empty = spark.createDataFrame([(0, None)], schema)
    with pytest.raises(ValueError, match="non-null"):
        probe_vector_dim(empty, "embedding")


def test_embedding_duplicates_drops_null_vectors(spark):
    """A null vector row must not crash the band kernel (np.stack needs a
    rectangular batch) or null-poison the unrolled fold — it is dropped from
    the candidate set on BOTH signature paths, and the brute-force oracle
    admits the same row-set."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from cognee_spark.operators.dedup import (
        embedding_duplicates,
        embedding_duplicates_bruteforce,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rows = [(0, None), (1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, schema)
    for unroll in (False, True):
        got = sorted(
            (r.a, r.b)
            for r in embedding_duplicates(
                df, threshold=0.9, unroll=unroll
            ).collect()
        )
        assert got == [(1, 2)]
    oracle = sorted(
        (r.a, r.b)
        for r in embedding_duplicates_bruteforce(df, threshold=0.9).collect()
    )
    assert oracle == [(1, 2)]


def test_textstats(spark, docs):
    from cognee_spark.operators.textstats import (
        fingerprints,
        language_id,
        quality_scores,
        token_counts,
    )

    tc = token_counts(docs)
    assert tc.where(F.col("n_words") <= 0).count() == 0
    qs = quality_scores(docs)
    row = qs.agg(F.min("quality_score"), F.max("quality_score")).first()
    assert 0.0 <= row[0] <= row[1] <= 1.0
    language_id(docs).groupBy("lang_guess").count().collect()
    fp = fingerprints(docs)
    assert fp.count() == docs.count()
