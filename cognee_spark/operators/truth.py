"""Truth-subspace ranking — the reference's centroid-slot truth coordinates
(cognee/modules/truth_subspace/align.py:12-89, centroids.py:24-160,
build.py:42-299) and the hybrid retriever's truth factor
(cognee/modules/retrieval/hybrid/ranking.py:43-46).

Semantics being matched:

- up to ``k`` (default 8) deterministic CENTROID SLOTS are built from the
  ``session_learnings`` statements: statements are normalized (casefold +
  whitespace collapse), deduplicated, given ``learning_id =
  uuid5(OID, "TruthLearning:{normalized}")``, sorted by that id, and folded
  greedily — a new learning opens a slot while slots remain, else merges
  into the nearest slot by cosine as a count-weighted running mean,
  re-normalized (centroids.py:101-160).
- every DocumentChunk node is PROJECTED onto the slots:
  ``truth_alignment[i] = cosine(node_vec, centroid_i)``, zero-padded to k,
  stamped with the centroid epoch used (align.node_coords + build.py step 6).
- at query time ``truth_score`` is the query-relevance-weighted average of
  the node's per-slot alignments (weights = clamped query coords), clamped
  to [0,1]; ``truth_factor = 0.75 + 0.5·truth_score`` multiplies the RRF
  score — NEUTRAL (score 0.5, factor 1.0) whenever coords are missing or
  the query aligns with no direction, and applied only when the node's
  stamped epoch equals the current epoch (ranking.py:43-46).

Spark re-expression: the slot build is driver-side over the collected
(learning_id, vector) pairs — the reference's fold is inherently sequential,
the state is ≤k centroids, and the learning set is session-lesson-scale
(bounded by ``max_learnings``, default 100k ≈ 25 MB of vectors; the
reference collects the same set through its graph engine). Everything that
scales with the CORPUS — normalizing statements, deduplication, id
assignment, and above all the per-node coordinate projection — is pure
codegen: the ≤k centroid vectors become array literals and each coordinate
is one fused cosine expression, so scoring 1B chunks is one narrow
projection with zero shuffles and zero Python.
"""

from __future__ import annotations

import hashlib
import math
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cognee_spark.functions.ids import NAMESPACE_OID
from cognee_spark.session import row_frame

TRUTH_CENTROID_COLLECTION = "TruthCentroid_vector"
DEFAULT_K = 8

# collected (learning_id, vector) pairs are driver state; cap like the
# reference caps its embed batches — beyond this, sample or pre-cluster
DEFAULT_MAX_LEARNINGS = 100_000

# Java's default \s — ASCII whitespace only (no NBSP etc.), matching the
# codegen regexp_replace in build_truth_subspace
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


# --- pure alignment math (align.py) — python + codegen twins -----------------


def normalize_statement(statement: str) -> str:
    """Python twin of build_truth_subspace's codegen normalization —
    ``trim(regexp_replace(lower(statement), '\\s+', ' '))``. Java's default
    ``\\s`` is ASCII-only ([ \\t\\n\\x0b\\f\\r]) and ``lower`` is
    one-to-one (ß stays ß, unlike casefold's ss), so the twin uses the
    same explicit class + ``str.lower`` to keep learning_ids identical
    across the two paths (the module's cross-path id contract)."""
    collapsed = _ASCII_WS.sub(" ", str(statement).lower())
    # after the collapse every Java-\s char is a plain space, so F.trim
    # (space-only) == strip(" ")
    return collapsed.strip(" ")


def learning_id(statement: str) -> str:
    """uuid5(OID, "TruthLearning:{normalized}") (centroids.learning_id)."""
    return str(uuid.uuid5(NAMESPACE_OID, f"TruthLearning:{normalize_statement(statement)}"))


def stable_signature(ordered_ids) -> str:
    """sha256 over the ordered id sequence (align.stable_signature)."""
    return hashlib.sha256("|".join(str(i) for i in ordered_ids).encode()).hexdigest()


def cosine_py(a, b) -> float:
    if not a or not b:
        return 0.0
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (na * nb)


def node_coords_py(vec, basis) -> list[float]:
    return [cosine_py(vec, b) for b in basis]


def truth_score_py(coords, q_coords) -> float:
    """Query-weighted average of per-slot alignments; NEUTRAL 0.5 on empty
    inputs or an all-non-positive query (align.truth_score)."""
    if not coords or not q_coords:
        return 0.5
    weights = [max(float(q), 0.0) for q in q_coords]
    total = sum(weights)
    if total == 0.0:
        return 0.5
    weighted = sum(float(n) * w for n, w in zip(coords, weights))
    return max(0.0, min(1.0, weighted / total))


def truth_factor_py(coords, q_coords) -> float:
    return 0.75 + 0.5 * truth_score_py(coords, q_coords)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_col(vec_col, basis_vec: list[float]):
    """cosine(vec, basis) as one codegen expression; 0.0 when either norm is
    zero (align.cosine). The basis vector is a literal array — at k=8 slots
    this is eight fused expressions per row, no shuffle, no Python."""
    b = F.array(*[F.lit(float(x)) for x in basis_vec])
    v = _as_double(vec_col)
    dot = F.aggregate(F.zip_with(v, b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    vn = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    bn = math.sqrt(sum(x * x for x in basis_vec))
    if bn == 0.0:
        return F.lit(0.0)
    return F.when(vn == 0.0, F.lit(0.0)).otherwise(dot / (vn * F.lit(bn)))


def node_coords_col(vec_col, basis: list[list[float]]):
    """truth_alignment array column: one cosine per slot, zero-padded to
    len(basis) by construction (align.node_coords)."""
    return F.array(*[cosine_col(vec_col, b) for b in basis])


def truth_score_col(coords_col, q_coords: list[float]):
    """Codegen truth_score against DRIVER-SIDE query coords (the query side
    is one vector, projected once per request — same as the reference)."""
    if not q_coords:
        return F.lit(0.5)
    weights = [max(float(q), 0.0) for q in q_coords]
    total = sum(weights)
    if total == 0.0:
        return F.lit(0.5)
    weighted = None
    for i, w in enumerate(weights):
        if w == 0.0:
            continue
        term = F.element_at(coords_col, i + 1) * F.lit(w)
        weighted = term if weighted is None else weighted + term
    score = F.least(F.greatest(weighted / F.lit(total), F.lit(0.0)), F.lit(1.0))
    return F.when(
        coords_col.isNull() | (F.size(coords_col) == 0), F.lit(0.5)
    ).otherwise(score)


def truth_factor_col(coords_col, q_coords: list[float]):
    """0.75 + 0.5·truth_score ∈ [0.75, 1.25] (align.truth_factor)."""
    return F.lit(0.75) + F.lit(0.5) * truth_score_col(coords_col, q_coords)


# --- centroid-slot build (centroids.py) --------------------------------------


def _normalize_vec(vec) -> list[float]:
    values = [float(v) for v in vec]
    norm = math.sqrt(sum(v * v for v in values))
    if norm == 0.0:
        return [0.0 for _ in values]
    return [v / norm for v in values]


def _weighted_centroid(old, count, new) -> list[float]:
    if not old:
        return _normalize_vec(new)
    safe = max(0, int(count))
    merged = [(safe * o + n) / (safe + 1) for o, n in zip(old, new)]
    return _normalize_vec(merged)


def extend_slots(
    existing: list[dict],
    learning_vectors: list[tuple[str, list[float]]],
    k: int = DEFAULT_K,
) -> list[dict]:
    """The deterministic greedy fold (centroids.extend_centroids_with_
    learning_vectors): already-seen learning ids are skipped; a new learning
    opens a slot while < k exist, else merges into the nearest slot by
    cosine as a count-weighted mean. Slot i always means slot i — rebuilds
    from the same ordered learnings produce the same slots.

    ``existing``/result slots: {"slot", "centroid", "count", "learning_ids"}.
    """
    slots = [
        {
            "centroid": list(s["centroid"]),
            "count": int(s["count"]),
            "learning_ids": list(s["learning_ids"]),
        }
        for s in sorted(existing, key=lambda s: s["slot"])[:k]
    ]
    seen = {lid for s in slots for lid in s["learning_ids"]}
    for lid, vec in learning_vectors:
        if lid in seen:
            continue
        nv = _normalize_vec(vec)
        if len(slots) < k:
            slots.append({"centroid": nv, "count": 1, "learning_ids": [lid]})
            seen.add(lid)
            continue
        nearest = max(
            range(len(slots)), key=lambda i: cosine_py(nv, slots[i]["centroid"])
        )
        slot = slots[nearest]
        slot["centroid"] = _weighted_centroid(slot["centroid"], slot["count"], nv)
        slot["count"] += 1
        slot["learning_ids"].append(lid)
        seen.add(lid)
    return [
        {
            "slot": i,
            "centroid": s["centroid"],
            "count": s["count"],
            "learning_ids": s["learning_ids"],
        }
        for i, s in enumerate(slots)
    ]


def slots_changed(old: list[dict], new: list[dict], tolerance: float = 1e-6) -> bool:
    """centroids_changed: epoch bumps only when membership/values moved."""
    if len(old) != len(new):
        return True
    by_slot = {s["slot"]: s for s in old}
    for s in new:
        o = by_slot.get(s["slot"])
        if o is None or o["count"] != s["count"] or o["learning_ids"] != s["learning_ids"]:
            return True
        if len(o["centroid"]) != len(s["centroid"]):
            return True
        if any(abs(float(a) - float(b)) > tolerance for a, b in zip(o["centroid"], s["centroid"])):
            return True
    return False


def centroid_id(dataset_id: str, slot: int) -> str:
    return str(uuid.uuid5(NAMESPACE_OID, f"TruthCentroid:{dataset_id}:{slot}"))


# --- full build (build.py) ----------------------------------------------------


def build_truth_subspace(
    spark: SparkSession,
    learnings: DataFrame,
    nodes: DataFrame,
    dataset_id: str = "main_dataset",
    k: int = DEFAULT_K,
    existing_slots: list[dict] | None = None,
    previous_epoch: int = 0,
    embed=None,
    statement_col: str = "statement",
    node_id_col: str = "node_id",
    node_vec_col: str | None = None,
    node_text_col: str = "text",
    max_learnings: int = DEFAULT_MAX_LEARNINGS,
) -> dict:
    """Build/refresh centroid slots and project ``nodes`` onto them.

    ``learnings``: one row per accepted lesson statement. Normalization,
    dedup, and id assignment run distributed; the surviving
    (learning_id, vector) pairs are collected IN learning_id ORDER (the
    reference's fold order) with a ``max_learnings`` cap, then folded into
    slots on the driver (≤ k centroids of state).

    ``nodes``: the corpus chunks to score. When ``node_vec_col`` is given it
    is used as the node vector; otherwise ``node_text_col`` is embedded via
    ``embed`` (a column fn; defaults to the engine hash embedding — the
    pluggable encoder seam).

    Returns {"slots", "coords" (node_id, truth_alignment, truth_epoch),
    "truth_epoch", "signature", "anchors", "centroid_rows"} — centroid_rows
    is the TruthCentroid_vector collection frame for the vector sink.
    Neutral result (no slots, no coords) when there are no learnings, the
    reference's empty_result path.
    """
    from cognee_spark.functions.embeddings import hash_embedding_col
    from cognee_spark.functions.ids import uuid5_col

    embed_fn = embed or (lambda c: hash_embedding_col(c))
    # id is keyed on the NORMALIZED statement, the embedded text is an
    # original statement (build.py keys its dict on learning_id but embeds
    # learning_texts); the reference keeps whichever original its dict saw
    # last — input-order-dependent, so the distributed twin keeps min() as
    # the deterministic representative
    uniq = (
        learnings.select(F.col(statement_col).alias("statement"))
        .withColumn(
            "normalized",
            F.trim(F.regexp_replace(F.lower(F.col("statement")), r"\s+", " ")),
        )
        .where(F.col("normalized") != "")
        .groupBy("normalized")
        .agg(F.min("statement").alias("statement"))
        .select(
            uuid5_col(F.concat(F.lit("TruthLearning:"), F.col("normalized"))).alias(
                "learning_id"
            ),
            "statement",
        )
        .withColumn("vector", embed_fn(F.col("statement")))
        .orderBy("learning_id")
        .limit(max_learnings)
    )
    pairs = [(r.learning_id, list(r.vector)) for r in uniq.collect()]
    if not pairs:
        return {
            "slots": list(existing_slots or []),
            "coords": None,
            "truth_epoch": previous_epoch,
            "signature": "",
            "anchors": len(existing_slots or []),
            "centroid_rows": None,
        }
    signature = stable_signature([p[0] for p in pairs])

    existing = list(existing_slots or [])
    rebuilt = extend_slots(existing, pairs, k=k)
    if slots_changed(existing, rebuilt):
        current_epoch = previous_epoch + 1
        slots = rebuilt
    else:
        current_epoch = previous_epoch
        slots = existing
    basis = [s["centroid"] for s in slots]

    vec_col = (
        F.col(node_vec_col)
        if node_vec_col is not None
        else embed_fn(F.col(node_text_col))
    )
    coords = nodes.select(
        F.col(node_id_col).alias("node_id"),
        node_coords_col(vec_col, basis).alias("truth_alignment"),
        F.lit(current_epoch).alias("truth_epoch"),
    )
    centroid_rows = row_frame(
        spark,
        [
            (
                TRUTH_CENTROID_COLLECTION,
                centroid_id(dataset_id, s["slot"]),
                dataset_id,
                s["slot"],
                s["count"],
                current_epoch,
                [float(x) for x in s["centroid"]],
                list(s["learning_ids"]),
            )
            for s in slots
        ],
        "collection string, item_id string, dataset_id string, slot int, "
        "count int, truth_epoch int, centroid array<double>, "
        "learning_ids array<string>",
    )
    return {
        "slots": slots,
        "coords": coords,
        "truth_epoch": current_epoch,
        "signature": signature,
        "anchors": len(slots),
        "centroid_rows": centroid_rows,
    }


def query_coords(query_vec, slots_or_basis) -> list[float]:
    """Project a query vector onto the slots (align.query_coords) —
    driver-side, one vector."""
    basis = [
        s["centroid"] if isinstance(s, dict) else s for s in slots_or_basis
    ]
    return node_coords_py(query_vec, basis)
