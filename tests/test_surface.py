"""Guard against package surface that only the tests reach.

An AST reachability scan over every ``.py`` file of the repository outside
``tests/``: a top-level package definition (function, class or assigned
name) counts as reached when a root, or a reached definition, refers to
it. Roots are every non-package file (``__spark_entry__.py``, the bench
scripts, ``perfbench/``, ``tools/``) and every package statement that is
not a definition. References are resolved per module, so two modules that
each define a private ``_CACHE`` do not keep each other alive:

* a bare name resolves to the module's own definition or to the
  ``from <module> import name`` that bound it;
* ``alias.name`` resolves through ``import <module> as alias`` /
  ``from <package> import <module>``;
* any other ``obj.name`` resolves to every package definition of that
  name (an over-count, which can only hide dead code, never invent it).

The test fails if a public definition is not reached.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "redpajama_v2_processing_spark"

# reference-format writers kept for interop: ``export_rpv2_signatures`` is
# what the round-trip tests read back through ``read_rpv2_signatures``, and
# ``export_keep_list_jsonl`` writes the keep-list format README documents
ALLOWED = {
    (f"{PACKAGE}.sources.rpv2", "export_rpv2_signatures"),
    (f"{PACKAGE}.sources.rpv2", "export_keep_list_jsonl"),
}
# the DuckDB twins the tests compare against: a reference, not surface
UNCHECKED_MODULES = {f"{PACKAGE}.oracle"}

_SKIP_DIRS = {"tests", "__pycache__", "build", "dist"}


def _source_files():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(p in _SKIP_DIRS or p.startswith(".") for p in rel.parts[:-1]):
            continue
        yield rel, path


def _module_name(rel: Path) -> str:
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _bound_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


class _Module:
    def __init__(self, name: str, tree: ast.Module, in_package: bool, is_init: bool):
        self.name = name
        self.defs: dict[str, list[ast.AST]] = {}
        self.roots: list[ast.AST] = []
        self.imported: dict[str, tuple[str, str]] = {}  # local -> (module, name)
        self.modules: dict[str, str] = {}  # local alias -> module
        package = name if is_init else name.rpartition(".")[0]
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name.split(".")[0]
                    self.modules[a.asname or top] = a.name if a.asname else top
            elif isinstance(node, ast.ImportFrom):
                base = self._resolve_from(node, package)
                for a in node.names:
                    local = a.asname or a.name
                    self.imported[local] = (base, a.name)
                    self.modules[local] = f"{base}.{a.name}"
        for node in tree.body:
            names = _bound_names(node)
            if in_package and names:
                for n in names:
                    self.defs.setdefault(n, []).append(node)
            elif not in_package or not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.roots.append(node)

    @staticmethod
    def _resolve_from(node: ast.ImportFrom, package: str) -> str:
        if not node.level:
            return node.module or ""
        parts = package.split(".")
        base = parts[: len(parts) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))


def _load():
    modules = {}
    for rel, path in _source_files():
        name = _module_name(rel)
        tree = ast.parse(path.read_text(), filename=str(rel))
        modules[name] = _Module(
            name, tree, rel.parts[0] == PACKAGE, rel.name == "__init__.py"
        )
    return modules


def _references(mod: _Module, node: ast.AST, modules, by_name):
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.ImportFrom):
            out.update(mod.imported[a.asname or a.name] for a in sub.names)
        elif isinstance(sub, ast.Name):
            if sub.id in mod.defs:
                out.add((mod.name, sub.id))
            elif sub.id in mod.imported:
                out.add(mod.imported[sub.id])
        elif isinstance(sub, ast.Attribute):
            owner = None
            if isinstance(sub.value, ast.Name):
                owner = mod.modules.get(sub.value.id)
            if owner in modules:
                out.add((owner, sub.attr))
            else:
                out.update(by_name.get(sub.attr, ()))
    return out


def unreached_package_names():
    """(module, name) of every public package definition no root reaches."""
    modules = _load()
    by_name: dict[str, set] = {}
    for m in modules.values():
        for n in m.defs:
            by_name.setdefault(n, set()).add((m.name, n))
    reached: set = set()
    todo = []
    for m in modules.values():
        for node in m.roots:
            todo.extend(_references(m, node, modules, by_name))
    while todo:
        key = todo.pop()
        if key in reached or key[0] not in modules:
            continue
        mod = modules[key[0]]
        if key[1] not in mod.defs:
            continue
        reached.add(key)
        for node in mod.defs[key[1]]:
            todo.extend(_references(mod, node, modules, by_name))
    return sorted(
        (m.name, n)
        for m in modules.values()
        if m.name not in UNCHECKED_MODULES
        for n in m.defs
        if not n.startswith("_")
        and (m.name, n) not in reached
        and (m.name, n) not in ALLOWED
    )


def test_no_package_name_reached_only_from_tests():
    dead = unreached_package_names()
    assert not dead, "package names no query, CLI, bench or tool reaches:\n" + "\n".join(
        f"  {m}.{n}" for m, n in dead
    )
