"""Every package module is reached from the query registry or the driver
contract, or is a documented library entry point.

A static walk of ``import`` statements (function-local ones included)
from ``__spark_entry__.py`` and the modules ``registry._register_all``
imports. No Spark: the modules are parsed, never imported. A module that
no query, no driver call and no documented entry point reaches is code
nothing runs; delete it or give it a caller.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "commercial_rfp_data_pipeline_spark"

# documented library entry points that no registry query imports, each
# with the reason it stays
ALLOWED = {
    f"{PKG}.streaming.windows": "README streaming/: windows + watermark",
    f"{PKG}.streaming.sinks": "README streaming/: exactly-once sinks",
    f"{PKG}.streaming.monitor": "README streaming/: the A/B monitor's stream twin",
    f"{PKG}.streaming.stateful": "README streaming/: applyInPandasWithState stats",
    f"{PKG}.sources.ingest": "README sources/: the reference's S4/S5 listing ingest",
    f"{PKG}.sources.rest_datasource": "README sources/: S5 as a Python DataSource",
    f"{PKG}.plans.lint": "README plans/: plan lints that tests and scripts run",
}


def _module_files() -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imports(tree: ast.AST, modules: dict[str, str]) -> set[str]:
    """Package modules named by any import in ``tree``, with every
    parent package they pull in."""
    named = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            named.add(node.module)
            named.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in named:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in modules:
                out.add(".".join(parts[:i]))
    return out


def _roots(modules: dict[str, str]) -> set[str]:
    with open(os.path.join(ROOT, "__spark_entry__.py")) as f:
        roots = _imports(ast.parse(f.read()), modules)
    with open(modules[f"{PKG}.registry"]) as f:
        registry = ast.parse(f.read())
    (register_all,) = [
        n
        for n in registry.body
        if isinstance(n, ast.FunctionDef) and n.name == "_register_all"
    ]
    roots |= _imports(register_all, modules)
    assert f"{PKG}.registry" in roots
    assert len(roots) > 10, roots  # the walk saw the query families
    return roots


def _closure(modules: dict[str, str], start: set[str]) -> set[str]:
    """``start`` plus everything it imports, transitively; importing a
    module imports its parent packages too."""
    seen: set[str] = set()
    todo = list(start)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo.extend(
            p for p in (".".join(parts[:i]) for i in range(1, len(parts)))
            if p in modules
        )
        with open(modules[mod]) as f:
            todo.extend(_imports(ast.parse(f.read()), modules) - seen)
    return seen


def test_every_module_is_reached_or_a_documented_entry_point():
    modules = _module_files()
    seen = _closure(modules, _roots(modules) | (set(ALLOWED) & set(modules)))
    unreached = sorted(set(modules) - seen)
    assert not unreached, f"modules no query or entry point reaches: {unreached}"


def test_allowlist_names_live_unreached_modules():
    """An allowlist entry for a deleted module, or one a query now
    reaches, is stale and must go."""
    modules = _module_files()
    seen = _closure(modules, _roots(modules))
    assert not set(ALLOWED) - set(modules), set(ALLOWED) - set(modules)
    assert not set(ALLOWED) & seen, set(ALLOWED) & seen


def test_no_vendored_tree():
    """Third-party code is a dependency, not a copy inside the package."""
    assert not os.path.exists(os.path.join(ROOT, PKG, "vendor"))
