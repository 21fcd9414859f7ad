"""Deduplication operators over document corpora.

The reference dedups by content hash at ingest (ingest_data.py:28-86 MERGE by
content hash; TextData.get_identifier md5 — data_types/TextData.py:18-34) and
near-dups via vector similarity (create_chunk_associations). A 100 TB
training-data pipeline needs the full ladder; each operator here is a
DataFrame-in/DataFrame-out function with a DuckDB-oracle-compatible
formulation where the semantics are SQL-expressible:

- exact_duplicates: sha256 groupBy (hash-shuffle, combiner does the heavy
  lifting map-side)
- shingle_min_signatures: per-doc char-shingle min-hash (the scalable
  candidate key — verify candidates with jaccard)
- simhash64: 64-bit simhash per doc from token hashes (Arrow-vectorized)
- ngram_jaccard_pairs: exact verify of candidate pairs
- embedding_duplicates: cosine >= threshold over an embeddings table via an
  LSH-free blocked self-join (brute force at small scale; IVF blocking at
  large scale lives in similarity_search.py)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_sha, dup_count, doc_ids)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where(F.col("dup_count") > 1)
    )


def shingle_min_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 8,
    prefix_chars: int = 256,
) -> DataFrame:
    """Per-doc min-shingle signature: min(md5(shingle)) over the text prefix.

    md5 (not xxhash) so a DuckDB oracle can recompute it byte-for-byte. The
    prefix bound keeps the explode linear in docs, not corpus bytes.
    """
    prefix = F.substring(F.col(text_col), 1, prefix_chars)
    idx = F.sequence(F.lit(1), F.greatest(F.length("prefix") - (shingle_len - 1), F.lit(1)))
    return (
        docs.select(F.col(id_col).alias("doc_id"), prefix.alias("prefix"))
        .select("doc_id", F.explode(idx).alias("i"), "prefix")
        .select("doc_id", F.md5(F.col("prefix").substr(F.col("i"), F.lit(shingle_len))).alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("min_shingle"))
    )


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-vectorized).

    Token hash = first 8 bytes of md5, big-endian — md5 (not xxhash/blake2)
    so a DuckDB oracle can recompute signatures byte-for-byte
    (__spark_entry__._SIMHASH_SQL). Bit b of the signature is 1 iff more
    token hashes have bit b set than clear.

    The per-bit majority vote is numpy bit-ops (unpackbits + column sum) —
    the round-1 per-token-per-bit Python loop was 64 ops/token and the
    slowest query in the bench at 3.4 s/500 docs.
    """
    import hashlib

    import numpy as np

    def one(text: str) -> int:
        tokens = (text or "").split()
        if not tokens:
            return 0
        raw = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in tokens)
        # rows = tokens, columns = bit 63 .. bit 0 (big-endian unpack)
        bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8).reshape(-1, 8), axis=1)
        ones = bits.sum(axis=0, dtype=np.int64)[::-1]  # index b = bit b
        mask = (2 * ones > len(tokens)).astype(np.uint64)
        value = int((mask << np.arange(64, dtype=np.uint64)).sum())
        return value - (1 << 64) if value >= 1 << 63 else value  # signed long

    return texts.map(one)


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-n-gram Jaccard verification of candidate (a, b) pairs."""
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(F.split(F.col(text_col), r"\s+")) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.split(F.col(text_col), r"\s+"), i + 1, n)),
            )
        ).alias("grams"),
    )
    a = grams.select(F.col("doc_id").alias("a"), F.col("grams").alias("ga"))
    b = grams.select(F.col("doc_id").alias("b"), F.col("grams").alias("gb"))
    joined = candidate_pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        joined.select("a", "b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# 48 planes banded as 6 bands × 8 sign bits. Band width is the blocking
# selectivity lever: a random (unrelated) pair collides on a band with
# probability ~2^-bits, so 4-bit bands admit ~1/16 of ALL pairs as candidates
# (measured 1.08M candidate pairs from 2,000 structured vectors — quadratic,
# the exact failure the blocking exists to prevent), while 8-bit bands admit
# ~1/256. Recall at cosine exactly 0.95: per-bit agreement 0.899 → band match
# 0.899^8 = 0.43 → miss (1-0.43)^6 ≈ 3.6e-2; at 0.99 miss ≈ 8.5e-4; real
# near-dups (≥0.99) are essentially never missed. At larger corpus sizes,
# scale bits-per-band ~log2(n) (add planes) to keep Σ bucket² subquadratic.
VEC_LSH_PLANES = 48
VEC_LSH_BANDS = 6


def hyperplanes(dim: int, n_planes: int = VEC_LSH_PLANES) -> list[list[float]]:
    """Deterministic random hyperplanes for cosine LSH (Charikar SimHash).

    component[p][j] = md5("hp{p}|{j}") scaled to [-1, 1] — md5-derived so a
    DuckDB oracle regenerates bit-identical planes in SQL and replays the
    FULL blocked algorithm, not just the verification step.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp{p}|{j}".encode()).hexdigest()[:8], 16)
            / 0xFFFFFFFF
            * 2.0
            - 1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


# below this row count the one-time ~10 s Janino compilation of the unrolled
# dot-product expressions costs more than interpreted evaluation of the whole
# table — small interactive corpora take the instant-compile path instead
UNROLL_MIN_ROWS = 50_000


def probe_vector_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Dimension of the first NON-NULL vector (a null row — e.g. an embedding
    recorded for a chunk later filtered out — must not poison the hyperplane
    dimension for every valid row); raises instead of returning None on an
    empty or all-null frame."""
    row = (
        embeddings.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    if row is None:
        raise ValueError(
            f"cannot infer vector dimension: no non-null '{vec_col}' rows"
        )
    return row.d


def _make_bands_udf(planes: list[list[float]], n_bands: int, per_band: int):
    """Arrow-batched band-key kernel for the small-table LSH path.

    Bit-exact with the unrolled Spark fold: the dot product accumulates
    vectorized across ROWS but sequentially across DIMENSIONS —
    ``acc = acc + V[:, j] * p[j]`` for j = 0..dim-1 performs, per row, the
    identical IEEE multiply-then-add sequence as
    ``aggregate(zip_with(v, plane, *), 0.0, +)``; numpy does not
    reassociate across these separate array ops."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def bands_of(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # float→double is exact
        n = V.shape[0]
        P = planes
        bits = np.empty((n, len(P)), dtype=np.uint8)
        for p_idx, plane in enumerate(P):
            acc = np.zeros(n, dtype=np.float64)
            for j, pj in enumerate(plane):
                acc = acc + V[:, j] * pj
            bits[:, p_idx] = acc >= 0
        chars = np.where(bits == 1, "1", "0")
        out = [
            [
                f"{b}:" + "".join(chars[r, b * per_band : (b + 1) * per_band])
                for b in range(n_bands)
            ]
            for r in range(n)
        ]
        return pd.Series(out)

    return bands_of


def embedding_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    unroll: bool | None = None,
    n_planes: int = VEC_LSH_PLANES,
    n_bands: int = VEC_LSH_BANDS,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold via hyperplane-LSH blocking.

    Sign-bit signature over ``n_planes`` deterministic hyperplanes, banded
    into ``n_bands`` buckets; only pairs sharing a band bucket are verified
    with exact cosine. The round-1 all-pairs crossJoin is gone — the
    self-join is keyed on (band, key), so candidate volume is Σ bucket²
    instead of n².

    RECALL IS THRESHOLD-DEPENDENT (this is a property of any banded LSH, not
    a bug): a pair at cosine s agrees per bit with probability
    1 - arccos(s)/π, matches a b-bit band with that probability^b, and is
    MISSED with probability (1 - p_band)^n_bands. At the 6×8-bit default:
    miss ≈ 3.6e-2 at s = 0.95 (≈ 1 in 28 borderline pairs), 8.5e-4 at
    s = 0.99, ~0 above. The defaults tune for selectivity — random-pair band
    collision ~2^-8, which measurement showed is what keeps candidates
    subquadratic. If borderline (≈ threshold) recall matters more than
    candidate volume, pass more/narrower bands: n_planes=48, n_bands=8
    (6-bit bands) drops the 0.95 miss to ≈ 2.5e-3 at ~4× the random-pair
    admission (2^-6/band); callers own that trade. The DuckDB oracle must use
    the same (n_planes, n_bands) to replay.

    Two bit-identical signature paths, gated on table size (``unroll=None``
    probes a parquet-metadata count):

    - unroll=True (the 100 TB path): the 48 dot products are UNROLLED literal
      expressions — seconds of one-time Janino compilation, then whole-stage
      codegen (~µs/row). Plan compilation is per query, not per row, so it
      amortizes at any real table size; no materialization barrier, because
      persisting a 100 TB signature projection is worse than recomputing the
      codegen'd dots on each consumer's scan.
    - unroll=False (small interactive corpora): the signature is an
      Arrow-batched numpy kernel — planes ship in the UDF closure (data, not
      plan), so the expression tree stays tiny (the literal form costs ~4.5 s
      of per-query driver analysis/constant-folding, measured; py4j-building
      the 3072 F.lit columns costs another ~3.6 s; a Catalyst
      higher-order-function form evaluates interpreted at ~ms/row). The
      kernel folds each dot product VECTORIZED ACROSS ROWS but SEQUENTIALLY
      ACROSS DIMENSIONS — per row the IEEE operation sequence is identical
      to the unrolled Spark fold, so the sign bits (and therefore the
      emitted pairs) are bit-identical, pinned by test. A repartition +
      eager localCheckpoint barrier runs it once for the four downstream
      consumers; the verify sides are broadcast (bounded by the size gate).
    """
    if dim is None:
        dim = probe_vector_dim(embeddings, vec_col)
    # a null or wrong-dimension vector can never be a duplicate candidate,
    # and it WOULD crash the numpy band kernel (np.stack needs a rectangular
    # batch) / null-poison the unrolled zip_with fold — drop such rows here
    # so both signature paths see the identical rectangular row-set
    embeddings = embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    if unroll is None:
        # parquet-metadata count: cheap at any size (no column decode)
        unroll = embeddings.count() >= UNROLL_MIN_ROWS
    if n_planes % n_bands:
        raise ValueError(f"n_planes={n_planes} must divide evenly into n_bands={n_bands}")
    planes = hyperplanes(dim, n_planes)
    per_band = n_planes // n_bands
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    small = not unroll

    if unroll:

        def _dot_lit(vec, plane):
            return F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(x) for x in plane]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        bits = [F.when(_dot_lit(v, p) >= 0, F.lit("1")).otherwise(F.lit("0")) for p in planes]
        band_keys = F.array(
            *[
                F.concat_ws(
                    ":", F.lit(b), F.concat(*bits[b * per_band : (b + 1) * per_band])
                )
                for b in range(n_bands)
            ]
        )
        base = embeddings.select(
            F.col(id_col).alias("id"), v.alias("v"), norm.alias("n"), band_keys.alias("bands")
        )
    else:
        bands_udf = _make_bands_udf(planes, n_bands, per_band)
        cores = embeddings.sparkSession.sparkContext.defaultParallelism
        base = (
            embeddings.repartition(cores)
            .select(
                F.col(id_col).alias("id"), v.alias("v"), norm.alias("n"),
                bands_udf(v).alias("bands"),
            )
            .localCheckpoint(eager=True)
        )
    banded = base.select("id", F.explode("bands").alias("band"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    va = base.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = base.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    if small:  # bounded by the size gate → broadcast beats shuffling the pairs
        va, vb = F.broadcast(va), F.broadcast(vb)
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", F.round(dot / (F.col("na") * F.col("nb")), 9).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_duplicates_bruteforce(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs exact cosine pairs — the small-scale ORACLE for the blocked
    path (recall tests); never the production path."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    # same null-row admission rule as the LSH path (oracle parity)
    base = embeddings.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), v.alias("v"), norm.alias("n")
    )
    a = base.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = base.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.round(dot / (F.col("na") * F.col("nb")), 9).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
