"""Deterministic synthetic source-code corpus — the `repos` input table.

Shape per BASELINE.json input_hint: (repo, path, commit, lang, content).
Everything is a pure function of (file_index, n_files), so the corpus can be
generated distributed (spark.range → mapInPandas), at any scale, and the test
oracle can recompute the ground truth for any row without coordination.

Ground truth embedded in each file (FIXTURES.md F1/F2, mirroring the enola
fact kinds of cognee/tasks/code_graph/models.py:30-65):
- code files (python/go/js/java): module, class + methods, functions, imports
  (in-repo + external), call sites referencing bare names that need suffix
  resolution, deliberately ambiguous `helper` definitions that must be
  skipped (extract_code_graph.py:305-314 semantics), and occasional routes.
- markdown files: natural-language statements "X depends on Y." with entity
  surface-form variants (CamelCase / spaced / lowercase / hyphenated /
  one-character typo) so entity linking + canonicalization have known alias
  clusters (the deterministic stand-in for cognee's LLM extraction,
  extract_content_graph.py:15-47).

Skew: repo sizes follow a Zipf-ish law — repo 0 holds ~25-30% of all files —
so the (repo,lang) partitioning and AQE skew-join paths are actually
exercised.
"""

from __future__ import annotations

import bisect
import hashlib
import random
from dataclasses import dataclass, field
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LANGS = ["python", "go", "js", "java", "md"]
_LANG_CUM = [0.40, 0.60, 0.75, 0.90, 1.00]
EXT = {"python": "py", "go": "go", "js": "js", "java": "java", "md": "md"}

EXTERNAL_DEPS = ["numpy", "requests", "fmt", "express", "lodash", "java.util.List", "pandas"]

# Natural-language entity pool: 12 × 4 = 48 canonical entities. The pool is
# verified separable under the linking semantics (difflib ratio cutoff 0.8,
# matching_strategies.py:26-32): every cross-entity surface-form pair scores
# < 0.78 while every typo variant scores >= 0.8 against its canonical form —
# so ground-truth clusters are exactly recoverable (tests/test_corpus.py).
NL_FIRST = [
    "Zephyr", "Quokka", "Maple", "Onyx", "Rhubarb", "Iguana",
    "Cosmos", "Velvet", "Axolotl", "Nimbus", "Juniper", "Krill",
]
NL_KIND = ["Service", "Registry", "Daemon", "Hub"]
NL_VERBS = [("uses", "uses"), ("depends on", "depends_on"), ("calls into", "calls_into"), ("extends", "extends")]


def nl_variant(idx: int, variant: int) -> str:
    """Deterministic surface form ``variant`` (0..4) of NL entity ``idx``.

    All variants must collapse to one canonical entity after linking:
    0 canonical CamelCase, 1 spaced, 2 lowercase spaced, 3 hyphenated,
    4 one-character-dropped typo (exercises the similarity path; parity
    with the reference's difflib cutoff 0.8, matching_strategies.py:23-53).
    """
    first = NL_FIRST[idx % len(NL_FIRST)]
    kind = NL_KIND[(idx // len(NL_FIRST)) % len(NL_KIND)]
    if variant == 1:
        return f"{first} {kind}"
    if variant == 2:
        return f"{first.lower()} {kind.lower()}"
    if variant == 3:
        return f"{first}-{kind}"
    if variant == 4:
        # drop one char from the middle of kind: Service→Serice, Worker→Worer
        mid = len(kind) // 2
        return first + kind[:mid] + kind[mid + 1 :]
    return first + kind


# --- repo layout -------------------------------------------------------------


@lru_cache(maxsize=8)
def _repo_boundaries(n_files: int) -> list[int]:
    # memoized: file_spec calls this per file; without the cache corpus
    # generation is O(n_files * n_repos) — hours at millions of files
    n_repos = max(5, n_files // 150 + 5)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(n_repos)]
    total = sum(weights)
    bounds, acc = [], 0.0
    for w in weights:
        acc += w / total
        bounds.append(min(n_files, round(acc * n_files)))
    bounds[-1] = n_files
    return bounds


@dataclass
class FileSpec:
    index: int
    repo: str
    repo_idx: int
    within: int  # index within repo
    repo_size: int
    lang: str
    path: str
    module: str  # dotted module name, unique per file within repo
    classes: list[str] = field(default_factory=list)  # short class names
    functions: list[str] = field(default_factory=list)  # short fn names (globally unique)
    methods: dict[str, list[str]] = field(default_factory=dict)
    imports_in_repo: list[str] = field(default_factory=list)  # target module names
    external_deps: list[str] = field(default_factory=list)
    calls: list[tuple[str, str]] = field(default_factory=list)  # (caller_short, callee_bare)
    defines_helper: bool = False
    route: str | None = None
    nl_statements: list[tuple[str, str, str, str]] = field(default_factory=list)
    # (subj_surface, verb_text, obj_surface, pred) — md files only


def _rng(index: int) -> random.Random:
    seed = int.from_bytes(hashlib.sha256(f"cognee_spark:{index}".encode()).digest()[:8], "big")
    return random.Random(seed)


def file_spec(index: int, n_files: int) -> FileSpec:
    bounds = _repo_boundaries(n_files)
    repo_idx = bisect.bisect_right(bounds, index)
    start = bounds[repo_idx - 1] if repo_idx > 0 else 0
    within = index - start
    repo_size = bounds[repo_idx] - start
    repo = f"org{repo_idx % 7}/repo{repo_idx}"
    rng = _rng(index)

    roll = rng.random()
    lang = LANGS[bisect.bisect_left(_LANG_CUM, roll)]
    ext = EXT[lang]
    module = f"pkg{within // 10}.mod{within}"
    path = f"src/pkg{within // 10}/mod{within}.{ext}"
    spec = FileSpec(
        index=index, repo=repo, repo_idx=repo_idx, within=within,
        repo_size=repo_size, lang=lang, path=path, module=module,
    )

    if lang == "md":
        spec.path = f"docs/note{within}.md"
        spec.module = ""
        n_statements = 3 + rng.randrange(4)
        for _ in range(n_statements):
            subj = rng.randrange(48)
            obj = rng.randrange(48)
            if obj == subj:
                obj = (obj + 1) % 48
            verb_text, pred = NL_VERBS[rng.randrange(len(NL_VERBS))]
            spec.nl_statements.append(
                (nl_variant(subj, rng.randrange(5)), verb_text, nl_variant(obj, rng.randrange(5)), pred)
            )
        return spec

    tag = f"{repo_idx}_{within}"
    spec.classes = [f"Class{tag}"]
    spec.functions = [f"fn_{tag}_{k}" for k in range(2 + index % 2)]
    spec.methods[f"Class{tag}"] = [f"m0_{tag}", f"m1_{tag}"]
    if within > 0:
        prev = f"pkg{(within - 1) // 10}.mod{within - 1}"
        spec.imports_in_repo.append(prev)
        spec.calls.append((spec.functions[0], f"fn_{repo_idx}_{within - 1}_0"))
    spec.external_deps = [EXTERNAL_DEPS[(index + k) % len(EXTERNAL_DEPS)] for k in range(2)]
    # every 4th file defines `helper`; ambiguous within the repo when >= 2 such
    # files exist, in which case bare `helper` calls must be skipped.
    spec.defines_helper = within % 4 == 0
    if within % 3 == 0 and within > 0:
        spec.calls.append((spec.functions[-1], "helper"))
    # routes only exist in langs whose renderer emits them
    if within % 10 == 0 and lang in ("python", "js"):
        spec.route = f"/api/{spec.repo.split('/')[1]}/v{within // 10}"
    return spec


# --- rendering ---------------------------------------------------------------


def render(spec: FileSpec) -> str:
    if spec.lang == "md":
        lines = [f"# Notes {spec.within}", ""]
        for subj, verb, obj, _pred in spec.nl_statements:
            lines.append(f"{subj} {verb} {obj}.")
        lines.append("")
        return "\n".join(lines)

    if spec.lang == "python":
        return _render_python(spec)
    if spec.lang == "go":
        return _render_go(spec)
    if spec.lang == "js":
        return _render_js(spec)
    return _render_java(spec)


def _render_python(s: FileSpec) -> str:
    out = [f'"""Module {s.module} of {s.repo}."""']
    for dep in s.external_deps:
        out.append(f"import {dep}")
    for mod in s.imports_in_repo:
        out.append(f"from {mod} import *")
    out.append("")
    calls = {caller: callee for caller, callee in s.calls}
    for fn in s.functions:
        if s.route and fn == s.functions[0]:
            out.append(f'@app.get("{s.route}")')
        out.append(f"def {fn}(x):")
        body = calls.get(fn)
        out.append(f"    return {body}(x)" if body else "    return x + 1")
        out.append("")
    if s.defines_helper:
        out.append("def helper(x):")
        out.append("    return x")
        out.append("")
    for cls in s.classes:
        out.append(f"class {cls}:")
        for m in s.methods[cls]:
            out.append(f"    def {m}(self):")
            out.append("        return self")
        out.append("")
    return "\n".join(out)


def _render_go(s: FileSpec) -> str:
    pkg = s.module.split(".")[0]
    out = [f"package {pkg}", "", "import ("]
    for dep in s.external_deps:
        out.append(f'    "{dep}"')
    for mod in s.imports_in_repo:
        out.append(f'    "{s.repo}/{mod.replace(".", "/")}"')
    out.append(")", )
    out.append("")
    calls = {caller: callee for caller, callee in s.calls}
    for fn in s.functions:
        out.append(f"func {fn}(x int) int {{")
        body = calls.get(fn)
        out.append(f"    return {body}(x)" if body else "    return x + 1")
        out.append("}")
        out.append("")
    if s.defines_helper:
        out.append("func helper(x int) int {")
        out.append("    return x")
        out.append("}")
        out.append("")
    for cls in s.classes:
        out.append(f"type {cls} struct {{}}")
        for m in s.methods[cls]:
            out.append(f"func (c *{cls}) {m}() {{}}")
        out.append("")
    return "\n".join(out)


def _render_js(s: FileSpec) -> str:
    out = [f"// module {s.module} of {s.repo}"]
    for dep in s.external_deps:
        out.append(f"const {dep.split('.')[0]} = require('{dep}');")
    for mod in s.imports_in_repo:
        out.append(f"import * as {mod.split('.')[-1]} from './{mod.replace('.', '/')}';")
    out.append("")
    calls = {caller: callee for caller, callee in s.calls}
    for fn in s.functions:
        if s.route and fn == s.functions[0]:
            out.append(f"app.get('{s.route}', {fn});")
        out.append(f"export function {fn}(x) {{")
        body = calls.get(fn)
        out.append(f"  return {body}(x);" if body else "  return x + 1;")
        out.append("}")
        out.append("")
    if s.defines_helper:
        out.append("export function helper(x) { return x; }")
        out.append("")
    for cls in s.classes:
        out.append(f"export class {cls} {{")
        for m in s.methods[cls]:
            out.append(f"  {m}() {{ return this; }}")
        out.append("}")
        out.append("")
    return "\n".join(out)


def _render_java(s: FileSpec) -> str:
    pkg = s.module.split(".")[0]
    out = [f"package {pkg};", ""]
    for dep in s.external_deps:
        out.append(f"import {dep};")
    for mod in s.imports_in_repo:
        out.append(f"import {mod};")
    out.append("")
    calls = {caller: callee for caller, callee in s.calls}
    for cls in s.classes:
        out.append(f"public class {cls} {{")
        for fn in s.functions:
            body = calls.get(fn)
            out.append(f"    public static int {fn}(int x) {{")
            out.append(f"        return {body}(x);" if body else "        return x + 1;")
            out.append("    }")
        if s.defines_helper:
            out.append("    public static int helper(int x) { return x; }")
        for m in s.methods[cls]:
            out.append(f"    public void {m}() {{}}")
        out.append("}")
    out.append("")
    return "\n".join(out)


# --- Spark generation --------------------------------------------------------

REPOS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def build_repos_df(
    spark: SparkSession,
    n_files: int,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation of the repos table.

    spark.range is evenly split; each task renders its own index range with no
    driver-side data movement, so generation scales linearly with cores.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = []
            for index in pdf["id"]:
                spec = file_spec(int(index), n_files)
                commit = hashlib.sha1(f"{spec.repo}:42".encode()).hexdigest()
                rows.append(
                    {
                        "repo": spec.repo,
                        "path": spec.path,
                        "commit": commit,
                        "lang": spec.lang,
                        "content": render(spec),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in REPOS_SCHEMA])

    return spark.range(0, n_files, numPartitions=partitions).mapInPandas(gen, REPOS_SCHEMA)


def write_repos_table(
    spark: SparkSession, n_files: int, out_dir: str, n_salts: int = 8
) -> None:
    """Materialize the corpus partitioned by (lang, salt(repo,path)).

    Salting the Zipf-skewed repo key keeps the mega-repo from pinning a single
    writer/reader task (north rule: explicit repo/lang-salted partitioning).
    On a real deployment this is an Iceberg table with identity(lang) +
    bucket(repo) partition spec; parquet directory layout stands in here.
    """
    df = build_repos_df(spark, n_files)
    df = df.withColumn("salt", F.pmod(F.xxhash64("repo", "path"), F.lit(n_salts)).cast("int"))
    df.repartition("lang", "salt").write.mode("overwrite").partitionBy("lang", "salt").parquet(out_dir)
