"""Pure-Python ground-truth oracle over the synthetic corpus.

Recomputes, for any corpus size, exactly what the Spark pipeline should emit:
- per-file facts (enola facts.jsonl shape: kind, name, repo, file, props,
  relations — cognee/tasks/code_graph/enola.py:1-7)
- resolved code triples with the reference's resolution ladder: exact
  qualified name → unique short-name suffix → skip ambiguous
  (extract_code_graph.py:157-168,222-235,305-314)
- canonicalized natural-language triples using the same normalization,
  match-key merge, similarity cutoff and canonical-representative rule as the
  pipeline (cognee_spark/functions/similarity.py — single shared definition)

This is the F5 oracle of FIXTURES.md: pipeline P/R >= 0.95 is measured against
these sets. No Spark here — plain Python, so the oracle is simple enough to
audit by eye.
"""

from __future__ import annotations

from collections import defaultdict

from cognee_spark.functions.ids import normalize_edge_name_py, normalize_identity_py
from cognee_spark.functions.similarity import canonical_name, is_alias_pair, match_key
from cognee_spark.sources.corpus import FileSpec, file_spec

Triple = tuple[str, str, str]


# --- code mode ---------------------------------------------------------------


def golden_code_facts(spec: FileSpec) -> list[dict]:
    """Facts embedded in one rendered code file (kind/name/relations)."""
    if spec.lang == "md":
        return []
    facts: list[dict] = [
        {"kind": "module", "name": spec.module, "repo": spec.repo, "file": spec.path, "relations": []}
    ]
    for fn in spec.functions:
        facts.append(
            {
                "kind": "function",
                "name": f"{spec.module}.{fn}",
                "repo": spec.repo,
                "file": spec.path,
                "relations": [],
            }
        )
    if spec.defines_helper:
        facts.append(
            {
                "kind": "function",
                "name": f"{spec.module}.helper",
                "repo": spec.repo,
                "file": spec.path,
                "relations": [],
            }
        )
    for cls in spec.classes:
        facts.append(
            {
                "kind": "class",
                "name": f"{spec.module}.{cls}",
                "repo": spec.repo,
                "file": spec.path,
                "relations": [
                    {"rel": "has_method", "target": f"{spec.module}.{cls}.{m}"}
                    for m in spec.methods[cls]
                ],
            }
        )
        for m in spec.methods[cls]:
            facts.append(
                {
                    "kind": "method",
                    "name": f"{spec.module}.{cls}.{m}",
                    "repo": spec.repo,
                    "file": spec.path,
                    "relations": [],
                }
            )
    for dep in spec.external_deps:
        facts.append(
            {
                "kind": "dependency",
                "name": dep,
                "repo": spec.repo,
                "file": spec.path,
                "relations": [],
            }
        )
        facts[0]["relations"].append({"rel": "depends_on_external", "target": dep})
    for mod in spec.imports_in_repo:
        facts[0]["relations"].append({"rel": "imports", "target": mod})
    for caller, callee in spec.calls:
        # callee is a bare name needing resolution
        facts.append(
            {
                "kind": "callsite",
                "name": f"{spec.module}.{caller}",
                "repo": spec.repo,
                "file": spec.path,
                "relations": [{"rel": "calls", "target": callee}],
            }
        )
    if spec.route:
        facts.append(
            {
                "kind": "route",
                "name": spec.route,
                "repo": spec.repo,
                "file": spec.path,
                "relations": [{"rel": "exposed_by", "target": f"{spec.module}.{spec.functions[0]}"}],
            }
        )
    return facts


def resolve_code_triples(specs: list[FileSpec]) -> set[Triple]:
    """Reference resolution ladder over the whole corpus' golden facts.

    Node names in triples are f"{repo}:{qualified}" normalized with the
    identity normalization; predicates use edge-name normalization.
    """
    by_repo_symbols: dict[str, dict[str, str]] = defaultdict(dict)  # repo → qualified → kind
    by_repo_short: dict[str, dict[str, list[str]]] = defaultdict(lambda: defaultdict(list))
    by_repo_modules: dict[str, set[str]] = defaultdict(set)

    all_facts = [(s, f) for s in specs for f in golden_code_facts(s)]
    for _spec, fact in all_facts:
        if fact["kind"] in ("class", "function", "method"):
            qualified = fact["name"]
            by_repo_symbols[fact["repo"]][qualified] = fact["kind"]
            short = qualified.rsplit(".", 1)[-1]
            by_repo_short[fact["repo"]][short].append(qualified)
        elif fact["kind"] == "module":
            by_repo_modules[fact["repo"]].add(fact["name"])

    def node(repo: str, qualified: str) -> str:
        return normalize_identity_py(f"{repo}:{qualified}")

    triples: set[Triple] = set()
    for _spec, fact in all_facts:
        repo = fact["repo"]
        for rel in fact["relations"]:
            pred = normalize_edge_name_py(rel["rel"])
            target = rel["target"]
            if rel["rel"] == "imports":
                if target in by_repo_modules[repo]:
                    triples.add((node(repo, fact["name"]), pred, node(repo, target)))
                else:
                    # in-repo-looking import whose target file isn't a module
                    # (e.g. that index rendered as markdown) → external dep
                    triples.add(
                        (node(repo, fact["name"]), "depends_on_external", normalize_identity_py(target))
                    )
            elif rel["rel"] == "calls":
                symbols = by_repo_symbols[repo]
                if target in symbols:
                    resolved = target
                else:
                    candidates = by_repo_short[repo].get(target, [])
                    if len(candidates) != 1:
                        continue  # ambiguous or unknown → skip (:305-314)
                    resolved = candidates[0]
                triples.add((node(repo, fact["name"]), pred, node(repo, resolved)))
            elif rel["rel"] == "has_method":
                triples.add((node(repo, fact["name"]), pred, node(repo, target)))
            elif rel["rel"] == "depends_on_external":
                triples.add((node(repo, fact["name"]), pred, normalize_identity_py(target)))
            elif rel["rel"] == "exposed_by":
                triples.add((node(repo, rel["target"]), "exposes", normalize_identity_py(fact["name"])))
    return triples


# --- natural-language mode ----------------------------------------------------


def nl_mentions(specs: list[FileSpec]) -> list[tuple[str, str, str]]:
    """(subj_surface, pred, obj_surface) statements across all md files."""
    out = []
    for spec in specs:
        for subj, _verb, obj, pred in spec.nl_statements:
            out.append((subj, pred, obj))
    return out


def cluster_aliases(names: set[str]) -> dict[str, str]:
    """name → canonical: match_key exact merge, then LSH-co-bucketed pairs
    scored with the shared similarity cutoff, then union-find closure (the
    oracle twin of the pipeline's LSH groupBy + large-star/small-star CC —
    identical candidate generation, identical score, identical cutoff)."""
    from collections import defaultdict as _dd

    from cognee_spark.functions.similarity import MAX_LSH_BUCKET, lsh_band_keys

    keys = sorted({match_key(n) for n in names})
    parent: dict[str, str] = {k: k for k in keys}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    buckets: dict[str, list[str]] = _dd(list)
    for k in keys:
        for band in lsh_band_keys(k):
            buckets[band].append(k)
    for members in buckets.values():
        if len(members) > MAX_LSH_BUCKET:
            # same skew guard as the pipeline (similarity.MAX_LSH_BUCKET):
            # a bucket this big is a degenerate band key, not real aliases —
            # both sides drop it, so candidate generation stays identical
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if is_alias_pair(a, b):
                    union(a, b)

    cluster_members: dict[str, set[str]] = defaultdict(set)
    for name in names:
        cluster_members[find(match_key(name))].add(name)
    mapping: dict[str, str] = {}
    for _root, members in cluster_members.items():
        canon = canonical_name(members)
        for name in members:
            mapping[name] = canon
    return mapping


def golden_nl_triples(specs: list[FileSpec]) -> set[Triple]:
    mentions = nl_mentions(specs)
    names = {m[0] for m in mentions} | {m[2] for m in mentions}
    alias = cluster_aliases(names)
    return {(alias[s], normalize_edge_name_py(p), alias[o]) for s, p, o in mentions}


def corpus_specs(n_files: int) -> list[FileSpec]:
    return [file_spec(i, n_files) for i in range(n_files)]


def golden_triples(n_files: int) -> set[Triple]:
    specs = corpus_specs(n_files)
    return resolve_code_triples(specs) | golden_nl_triples(specs)


# --- graph-table twins (oracles for the kg_* entry queries) -------------------


def golden_mention_kinds(specs: list[FileSpec]) -> dict[str, str]:
    """canonical_name → min(kind), the pipeline's mention_kinds aggregate.

    Code mentions take their fact kind (module/class/function/method/
    dependency/route — callsite facts carry no mention, matching
    extraction.extract_code); NL mentions are kind 'entity'.
    """
    kinds: dict[str, set[str]] = defaultdict(set)
    for spec in specs:
        for fact in golden_code_facts(spec):
            kind = fact["kind"]
            if kind == "callsite":
                continue
            if kind in ("dependency", "route"):
                canon = normalize_identity_py(fact["name"])
            else:
                canon = normalize_identity_py(f"{fact['repo']}:{fact['name']}")
            kinds[canon].add(kind)
    mentions = nl_mentions(specs)
    names = {m[0] for m in mentions} | {m[2] for m in mentions}
    alias = cluster_aliases(names)
    for name in names:
        kinds[alias[name]].add("entity")
    return {canon: min(ks) for canon, ks in kinds.items()}


def golden_nodes(n_files: int) -> list[tuple[str, str, str]]:
    """(entity_id, name, kind) rows — twin of materialize.build_nodes."""
    from cognee_spark.functions.ids import id_for_py

    specs = corpus_specs(n_files)
    triples = resolve_code_triples(specs) | golden_nl_triples(specs)
    kinds = golden_mention_kinds(specs)
    names = sorted({t[0] for t in triples} | {t[2] for t in triples})
    return [(id_for_py("Entity", n), n, kinds.get(n, "entity")) for n in names]


def golden_edge_type_histogram(n_files: int) -> list[tuple[str, int]]:
    """(relationship_name, number_of_edges) — twin of edge_type_histogram."""
    from collections import Counter

    counts = Counter(pred for _s, pred, _o in golden_triples(n_files))
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


def golden_context_lines(n_files: int) -> list[str]:
    """Retrieval context lines — twin of retrieval.resolve_edges_to_text."""
    return [f"{s} --[{p}]--> {o}" for s, p, o in golden_triples(n_files)]


def golden_entity_search(n_files: int, query: str, k: int = 5) -> list[tuple[int, str, str]]:
    """(rank, item_id, name) top-k entity names by hash-embedding cosine —
    twin of the pipeline's index stage + brute_force_topk (R1 over the
    engine's own graph)."""
    from cognee_spark.functions.embeddings import cosine_py, hash_embedding_py

    qv = hash_embedding_py(query)
    scored = [
        (cosine_py(hash_embedding_py(name), qv), entity_id, name)
        for entity_id, name, _kind in golden_nodes(n_files)
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [(rank + 1, eid, name) for rank, (_c, eid, name) in enumerate(scored[:k])]


def golden_triplet_search(n_files: int, query: str, k: int = 5) -> list[tuple[int, str, str]]:
    """(rank, item_id, text) top-k triplet texts by hash-embedding cosine —
    independent twin of indexing.build_triplet_index + brute_force_topk (the
    memify create_triplet_embeddings collection queried as R1). Triplet id =
    generate_node_id(start_id + rel + end_id), text = 'start-›rel-›end'
    (get_triplet_datapoints.py:158-165)."""
    from cognee_spark.functions.embeddings import cosine_py, hash_embedding_py
    from cognee_spark.functions.ids import id_for_py, node_id_py

    qv = hash_embedding_py(query)
    items: dict[str, str] = {}
    for subj, pred, obj in golden_triples(n_files):
        tid = node_id_py(id_for_py("Entity", subj) + pred + id_for_py("Entity", obj))
        items[tid] = f"{subj}-›{pred}-›{obj}"
    scored = [
        (cosine_py(hash_embedding_py(text), qv), tid, text)
        for tid, text in items.items()
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [(rank + 1, tid, text) for rank, (_c, tid, text) in enumerate(scored[:k])]
