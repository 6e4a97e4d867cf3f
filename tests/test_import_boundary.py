"""Import boundary of the engine verbs.

Walks, without importing anything, every in-package import reachable from
``advanced_strapi_import_spark.api`` (function-level imports and the
package ``__init__`` modules that an import runs included) and pins the
set. A change that pulls a catalog module into a verb's import closure
must update ``VERB_MODULES`` on purpose.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "advanced_strapi_import_spark"
ROOT = Path(__file__).resolve().parent.parent

VERB_MODULES = {
    PKG,
    f"{PKG}.api",
    f"{PKG}.functions",
    f"{PKG}.functions.casts",
    f"{PKG}.operators",
    f"{PKG}.operators.components",
    f"{PKG}.operators.export",
    f"{PKG}.operators.media",
    f"{PKG}.operators.resolve",
    f"{PKG}.operators.upsert",
    f"{PKG}.operators.validate",
    f"{PKG}.schema",
    f"{PKG}.sources",
    f"{PKG}.sources.csv_source",
    f"{PKG}.sources.zip_source",
}


def _source(mod: str) -> Path | None:
    p = ROOT / mod.replace(".", "/")
    if (p / "__init__.py").exists():
        return p / "__init__.py"
    if p.with_suffix(".py").exists():
        return p.with_suffix(".py")
    return None


def _imports(mod: str) -> set[str]:
    """In-package modules that importing ``mod`` runs: its parent
    packages plus every module its source imports."""
    path = _source(mod)
    parts = mod.split(".")
    out = {".".join(parts[:i]) for i in range(1, len(parts))}
    here = parts if path.name == "__init__.py" else parts[:-1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here[: len(here) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            # ``from pkg import name`` imports pkg.name when it is a module
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        out |= {n for n in names if n.split(".")[0] == PKG and _source(n)}
    return out


def _closure(start: str) -> set[str]:
    seen: set[str] = set()
    todo = [start]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(mod))
    return seen


def test_verb_import_closure_is_pinned():
    assert _closure(f"{PKG}.api") == VERB_MODULES
