"""Every ``valkey_search_spark`` module must be reachable from a real
entry point, not only from its own tests.

The walk parses source with ``ast`` (no imports, no Spark). It starts at
the serving surface (``commands``, ``__main__``), the query contract
(``__spark_entry__.py``), the roster (``bench.py``), the benchmark
(``perfbench/``, its own tests excluded) and ``tools/``, and follows every
import statement, function-local ones included. Importing ``a.b.c`` also
runs ``a/__init__`` and ``a/b/__init__``, so those count as reached.
"""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "valkey_search_spark"


def _module_files() -> dict[str, Path]:
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


ENTRY_MODULES = (f"{PKG}.commands", f"{PKG}.__main__")


def _entry_files() -> list[Path]:
    """The entry points outside the package."""
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += [p for p in (REPO / "perfbench").rglob("*.py")
              if "tests" not in p.relative_to(REPO).parts]
    files += sorted((REPO / "tools").rglob("*.py"))
    return files


def _imported(path: Path, modname: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a file imports: each ``from X import y`` yields X and
    the candidate submodule X.y; relative imports resolve against
    ``modname``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = (modname or "").split(".")
                if not is_pkg:
                    pkg = pkg[:-1]
                pkg = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    modules = _module_files()
    seen = set(ENTRY_MODULES)
    todo = [(p, None, False) for p in _entry_files()]
    todo += [(modules[m], m, False) for m in ENTRY_MODULES]
    while todo:
        path, modname, is_pkg = todo.pop()
        for name in _imported(path, modname, is_pkg):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append((modules[mod], mod,
                                 modules[mod].name == "__init__.py"))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = sorted(set(_module_files()) - _reached())
    assert not unreached, (
        "modules no entry point imports (delete them or wire them into "
        f"a real caller): {unreached}")

