"""Every library module is reachable from a shipping entry point.

The import graph is built from source with ``ast`` (no Spark, no
imports executed), starting at the query entry point
(``__spark_entry__.py``), the bench CLI (``bench.py``) and the end-to-end
pipeline (``plans/pages_pipeline.py``).  A module under
``neo4j_export_tool_spark/`` that none of them reaches is imported only by
its own tests (or by nothing): it is either wired in or deleted.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "neo4j_export_tool_spark"
ENTRY_FILES = (
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / PKG / "plans" / "pages_pipeline.py",
)
# Test-only today, each with a plan: the WARC reader is to become a
# pipeline input; the streaming pages/stateful analogs await the same
# audit as the other off-path breadth.
ALLOWED_TEST_ONLY = {
    f"{PKG}.sources.warc",
    f"{PKG}.streaming.pages",
    f"{PKG}.streaming.stateful",
}


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _library_modules() -> dict[str, Path]:
    return {
        _module_name(path).removesuffix(".__init__"): path
        for path in (ROOT / PKG).rglob("*.py")
    }


def _imported_names(path: Path, module: str, is_package: bool) -> set[str]:
    """Dotted names a file imports, including ``from x import y`` as
    ``x.y`` (y may be a submodule) and relative imports resolved against
    ``module``."""
    package = module if is_package else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reachable(mods: dict[str, Path]) -> set[str]:
    stack = [(path, _module_name(path)) for path in ENTRY_FILES]
    seen = {module for _, module in stack}
    while stack:
        path, module = stack.pop()
        is_package = path.name == "__init__.py"
        for name in _imported_names(path, module, is_package):
            # importing a.b.c also runs the __init__ of a and a.b
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods and prefix not in seen:
                    seen.add(prefix)
                    stack.append((mods[prefix], prefix))
    return seen


def test_no_library_module_is_test_only():
    mods = _library_modules()
    unreached = set(mods) - _reachable(mods)
    assert unreached == ALLOWED_TEST_ONLY, (
        "modules no entry point reaches (wire them in or delete them): "
        f"{sorted(unreached - ALLOWED_TEST_ONLY)}; allowlisted but now "
        f"reachable (drop from ALLOWED_TEST_ONLY): "
        f"{sorted(ALLOWED_TEST_ONLY - unreached)}"
    )
