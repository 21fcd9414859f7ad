"""The engine's surface: every top-level def in ``cognee_spark/`` is reachable
from it, or is on the keep-list below with its reason.

The surface is what a user, the driver contract or the benchmark can reach:
``api.Cognee`` (every method), ``search.search``, ``acl.authorized_search``,
``pipeline.run_pipeline``, the streaming entry points, and every name that
``__spark_entry__.py``, ``bench.py``, ``make_package.py``, ``perfbench/`` and
``tools/`` use (including the code in ``tools/``' subprocess templates). The
walk is static: it parses every module, resolves each name and
``module.attr`` through the module's imports (top-level and function-local),
and follows the defs it reaches. A reached class counts as a whole, methods
included. Module-level statements other than defs run on import, so their
names are roots too.

No test imports the engine here; the walk reads source only.
"""

from __future__ import annotations

import ast
import string
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "cognee_spark"

ROOTS = (
    "cognee_spark.api.Cognee",
    "cognee_spark.search.search",
    "cognee_spark.acl.authorized_search",
    "cognee_spark.pipeline.run_pipeline",
    "cognee_spark.streaming.incremental.incremental_cognify",
    "cognee_spark.streaming.incremental.stream_repos",
    "cognee_spark.streaming.incremental.windowed_event_counts",
    "cognee_spark.streaming.sessions.stream_session_records",
)

# Files whose whole text is surface: everything they name is reached.
ROOT_FILES = ("__spark_entry__.py", "bench.py", "make_package.py")
ROOT_DIRS = ("perfbench", "tools")

# Unreached defs that stay, with the reason each one stays. A kept def keeps
# what it calls.
_TWIN = "pure-Python twin that tests compare the live column expression against"
_PRODUCER = "defines the events that the live temporal_completion reads"
KEEP = {
    "cognee_spark.operators.llm.HttpTransport":
        "how a deployment plugs a real model into the llm= seam",
    "cognee_spark.operators.llm.OpenAIChatTransport":
        "how a deployment plugs a real model into the llm= seam",
    "cognee_spark.operators.llm.FailingBatchTransport":
        "test fake pickled into UDFs, so workers must be able to import it",
    "cognee_spark.operators.llm.NoisyTransport":
        "test fake pickled into UDFs, so workers must be able to import it",
    "cognee_spark.functions.ids.edge_object_id_py": _TWIN,
    "cognee_spark.functions.ids.normalize_node_name_py": _TWIN,
    "cognee_spark.operators.truth.truth_factor_py": _TWIN,
    "cognee_spark.operators.truth.normalize_statement": _TWIN,
    "cognee_spark.operators.truth.learning_id": _TWIN,
    "cognee_spark.operators.dedup.embedding_duplicates_bruteforce":
        "exact reference that the LSH recall test compares embedding_duplicates against",
    "cognee_spark.operators.temporal.extract_events": _PRODUCER,
    "cognee_spark.operators.temporal.events_to_datapoints": _PRODUCER,
    "cognee_spark.operators.temporal.event_entity_edges": _PRODUCER,
    "cognee_spark.operators.cleanup.cleanup_unused_data":
        "whether Cognee.forget should take it is a later decision",
    "cognee_spark.recall.recall":
        "the reference's recall verb (search, then normalize); whether Cognee "
        "should expose it is a later decision",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, ast.Module]:
    return {
        _module_name(p): ast.parse(p.read_text(), str(p))
        for p in sorted((REPO / PKG).rglob("*.py"))
    }


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a chain of attributes over a name, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


def _absolute(module: str, is_pkg: bool, imp: ast.ImportFrom) -> str:
    if not imp.level:
        return imp.module or ""
    base = module.split(".")
    base = base[: len(base) - imp.level + (1 if is_pkg else 0)]
    return ".".join(base + ([imp.module] if imp.module else []))


def _template_code(template: str) -> ast.Module:
    """Parse a ``str.format`` template of Python source, each replacement
    field standing in as a name; an empty module when it is not code."""
    try:
        parts = string.Formatter().parse(template)
        code = "".join(lit + ("_" if field is not None else "") for lit, field, _, _ in parts)
        return ast.parse(code)
    except (SyntaxError, ValueError):
        return ast.Module(body=[], type_ignores=[])


class Surface:
    """Static reachability over ``cognee_spark``'s top-level defs."""

    def __init__(self) -> None:
        self.modules = _package_modules()
        self.is_pkg = {
            _module_name(p): p.name == "__init__.py"
            for p in (REPO / PKG).rglob("*.py")
        }
        # module -> top-level name -> def node
        self.defs: dict[str, dict[str, ast.AST]] = {}
        # module -> top-level import alias -> qualified target
        self.aliases: dict[str, dict[str, str]] = {}
        for mod, tree in self.modules.items():
            self.defs[mod], self.aliases[mod] = {}, {}
            for stmt in tree.body:
                for name in self._bound_names(stmt):
                    self.defs[mod][name] = stmt
                self.aliases[mod].update(self._import_aliases(mod, stmt))

    @staticmethod
    def _bound_names(stmt: ast.stmt) -> list[str]:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return [stmt.name]
        targets = []
        if isinstance(stmt, ast.Assign):
            targets = stmt.targets
        elif isinstance(stmt, ast.AnnAssign):
            targets = [stmt.target]
        return [
            n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
        ]

    def _import_aliases(self, mod: str, node: ast.AST) -> dict[str, str]:
        out = {}
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    out[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = _absolute(mod, self.is_pkg.get(mod, False), node)
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
        return out

    def _resolve(self, qual: str, seen: frozenset = frozenset()) -> str | None:
        """The module or top-level def that ``qual`` names, following
        re-exports; None when it is outside the package."""
        if qual in self.modules:
            return qual
        mod, _, rest = qual.rpartition(".")
        while mod and mod not in self.modules:
            mod, _, head = mod.rpartition(".")
            rest = f"{head}.{rest}"
        if not mod or qual in seen:
            return None
        head, _, tail = rest.partition(".")
        if head in self.defs[mod]:
            return f"{mod}.{head}"
        if head in self.aliases[mod]:
            target = self.aliases[mod][head] + (f".{tail}" if tail else "")
            return self._resolve(target, seen | {qual})
        sub = f"{mod}.{head}"
        if sub in self.modules:
            return self._resolve(sub + (f".{tail}" if tail else ""), seen | {qual})
        return None

    def references(self, mod: str | None, node: ast.AST) -> set[str]:
        """Package modules and defs that ``node`` names, resolved in ``mod``
        (None for a file outside the package)."""
        scope = dict(self.aliases[mod]) if mod else {}
        for sub in ast.walk(node):
            scope.update(self._import_aliases(mod or "", sub))
        out = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.ImportFrom):
                base = _absolute(mod or "", self.is_pkg.get(mod, False), sub)
                names = [f"{base}.{a.name}" for a in sub.names] + [base]
            elif isinstance(sub, ast.Import):
                names = [a.name for a in sub.names]
            elif isinstance(sub, (ast.Name, ast.Attribute)):
                dotted = _dotted(sub)
                if dotted is None:
                    continue
                head, _, tail = dotted.partition(".")
                if head in scope:
                    names = [scope[head] + (f".{tail}" if tail else "")]
                elif mod and head in self.defs[mod]:
                    names = [f"{mod}.{head}"]
                else:
                    continue
            elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                # subprocess templates in tools/ are code too
                if mod is None and "import" in sub.value:
                    out |= self.references(None, _template_code(sub.value))
                continue
            else:
                continue
            for name in names:
                hit = self._resolve(name)
                if hit:
                    out.add(hit)
        return out

    def reached(self, roots=ROOTS) -> set[str]:
        todo = set(roots)
        for rel in ROOT_FILES:
            todo |= self.references(None, ast.parse((REPO / rel).read_text()))
        for d in ROOT_DIRS:
            for p in sorted((REPO / d).rglob("*.py")):
                todo |= self.references(None, ast.parse(p.read_text()))
        # module-level statements other than defs run on import
        for mod, tree in self.modules.items():
            for stmt in tree.body:
                if not self._bound_names(stmt) and not isinstance(
                    stmt, (ast.Import, ast.ImportFrom)
                ):
                    todo |= self.references(mod, stmt)
        done: set[str] = set()
        while todo:
            qual = todo.pop()
            if qual in done:
                continue
            done.add(qual)
            if qual in self.modules:
                continue
            mod, _, name = qual.rpartition(".")
            todo |= self.references(mod, self.defs[mod][name]) - done
        return done

    def top_level_defs(self) -> set[str]:
        return {
            f"{mod}.{name}"
            for mod, names in self.defs.items()
            for name in names
            if not (name.startswith("__") and name.endswith("__"))
        }


def test_every_top_level_def_is_reached_or_kept():
    surface = Surface()
    # a kept def keeps what it calls
    unreached = surface.top_level_defs() - surface.reached(ROOTS + tuple(KEEP))
    assert not unreached, (
        "defs that no surface root reaches (delete them, or add them to KEEP "
        "with the reason they stay):\n  " + "\n  ".join(sorted(unreached))
    )


def test_keep_list_names_live_unreached_defs_with_reasons():
    surface = Surface()
    assert all(reason.strip() for reason in KEEP.values())
    assert set(KEEP) <= surface.top_level_defs(), set(KEEP) - surface.top_level_defs()
    # an entry that the surface reaches no longer needs to be kept by hand
    assert not set(KEEP) & surface.reached(), set(KEEP) & surface.reached()


def test_roots_exist():
    surface = Surface()
    assert set(ROOTS) <= surface.top_level_defs(), set(ROOTS) - surface.top_level_defs()
