"""Shared similarity semantics for entity linking.

One definition used by BOTH the Spark pipeline (inside Arrow-batched pandas
UDFs) and the pure-Python oracle, so linking decisions can never diverge
between the two.

Parity target: cognee resolves near-matches with difflib.get_close_matches at
cutoff 0.8 after exact-match (cognee/modules/ontology/matching_strategies.py:
23-53). We generalize: exact merge on a separator-free match key, then
MinHash-LSH candidate generation over character shingles, then
SequenceMatcher.ratio >= CUTOFF scoring of candidates — same score, same
cutoff, scalable candidate generation.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator
from difflib import SequenceMatcher

from cognee_spark.functions.ids import normalize_identity_py

SIMILARITY_CUTOFF = 0.8  # matching_strategies.py:26-32
SHINGLE_K = 3
MINHASH_PERMS = 24
# 24 bands x 1 row: candidate iff any minhash value matches. Miss probability
# for a true pair at Jaccard J is (1-J)^24 (≈1e-6 at J=0.44, our worst true
# typo pair). Single-row bands make big buckets for very common shingle-min
# values; the pipeline caps bucket size (skew guard) before pairing.
LSH_BANDS = 24
MAX_LSH_BUCKET = 1024  # skew guard: buckets larger than this are dropped from
# pairing (a bucket that big means a degenerate band key, not real aliases)
_ROWS = MINHASH_PERMS // LSH_BANDS
_MERSENNE = (1 << 61) - 1


def match_key(name: str) -> str:
    """Aggressive normalization for exact alias merge.

    lowercase + drop separators (space, _, -, ', /): 'Alpha Service',
    'alpha-service' and 'AlphaService' share one key; typos do not and fall
    through to the similarity path.
    """
    return "".join(ch for ch in name.lower() if ch not in " _-'/")


def name_similarity(a: str, b: str) -> float:
    """difflib ratio with autojunk off — the reference's 0.8-cutoff score."""
    return SequenceMatcher(None, a, b, autojunk=False).ratio()


def shingles(key: str, k: int = SHINGLE_K) -> set[str]:
    if len(key) < k:
        return {key} if key else set()
    return {key[i : i + k] for i in range(len(key) - k + 1)}


def _hash64(value: str) -> int:
    return int.from_bytes(hashlib.blake2b(value.encode(), digest_size=8).digest(), "big")


# Deterministic permutation parameters (fixed seed → same on every executor).
_PERMS = [
    (_hash64(f"minhash-a-{i}") % _MERSENNE or 1, _hash64(f"minhash-b-{i}") % _MERSENNE)
    for i in range(MINHASH_PERMS)
]


def minhash_signature(key: str) -> list[int]:
    grams = shingles(key)
    if not grams:
        return [0] * MINHASH_PERMS
    hashes = [_hash64(g) for g in grams]
    return [min((a * h + b) % _MERSENNE for h in hashes) for a, b in _PERMS]


def lsh_band_keys(key: str) -> list[str]:
    """LSH bucket keys: one per band; equal band key ⇒ candidate pair."""
    sig = minhash_signature(key)
    return [
        f"{band}:" + "-".join(str(v) for v in sig[band * _ROWS : (band + 1) * _ROWS])
        for band in range(LSH_BANDS)
    ]


def is_alias_pair(a: str, b: str) -> bool:
    """Final alias decision over two *match keys* (post exact-merge).

    NOTE: linking semantics are defined as LSH co-bucketing AND this score —
    a pair the LSH bands never co-bucket is NOT an alias even if its ratio
    clears the cutoff. Pipeline and oracle both apply the full definition, so
    they agree by construction at any scale.
    """
    return name_similarity(a, b) >= SIMILARITY_CUTOFF


def alias_partners(b: str, candidates: Iterable[str]) -> Iterator[str]:
    """The ``a`` in ``candidates`` with ``is_alias_pair(a, b)``.

    One matcher holds ``b``, whose analysis difflib caches across
    ``set_seq1`` calls; both quick ratios bound ``ratio()`` from above, so a
    pair below the cutoff on either skips the full block match."""
    sm = SequenceMatcher(None, "", b, autojunk=False)
    for a in candidates:
        sm.set_seq1(a)
        if (
            sm.real_quick_ratio() >= SIMILARITY_CUTOFF
            and sm.quick_ratio() >= SIMILARITY_CUTOFF
            and sm.ratio() >= SIMILARITY_CUTOFF
        ):
            yield a


def canonical_name(names: set[str]) -> str:
    """Deterministic canonical representative of an alias cluster.

    The reference rewrites aliases to the canonical ontology individual
    (expand_with_nodes_and_edges.py name_mapping); absent an ontology we pick
    the lexicographically smallest normalized name — stable across runs,
    partitionings, and cluster sizes.
    """
    return min(normalize_identity_py(n) for n in names)


def cluster_names(names: list[str]) -> list[tuple[str, str]]:
    """(name, canonical) for every name, in one single-threaded pass: the
    pipeline's linking rules — match-key merge, LSH co-bucketing under the
    skew guard, each candidate pair (a < b) scored once at the cutoff,
    union-find, canonical_name's minimum per cluster."""
    mkey = {n: match_key(n) for n in names}
    parent = {k: k for k in mkey.values()}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets: dict[str, list[str]] = {}
    for k in sorted(parent):
        for band in lsh_band_keys(k):
            buckets.setdefault(band, []).append(k)
    smaller: dict[str, set[str]] = {}  # b → its candidate partners a < b
    for members in buckets.values():
        if len(members) <= MAX_LSH_BUCKET:
            for i, b in enumerate(members):
                smaller.setdefault(b, set()).update(members[:i])
    for b, partners in smaller.items():
        # a pair already in one cluster cannot change the closure
        for a in alias_partners(b, (a for a in partners if find(a) != find(b))):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[str, set[str]] = {}
    for n in names:
        clusters.setdefault(find(mkey[n]), set()).add(n)
    canonical = {root: canonical_name(members) for root, members in clusters.items()}
    return [(n, canonical[find(mkey[n])]) for n in names]
