"""Every package module is imported from some program root.

A pure `ast` walk (no Spark session) from `__spark_entry__.py`, `bench.py`,
the perfbench workloads and the tools. It follows absolute and
relative imports, function-local ones included, and names each module of
`distributed_search_engine_spark/` that no root reaches.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "distributed_search_engine_spark"


def _roots():
    files = [REPO / n for n in ("__spark_entry__.py", "bench.py")]
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    return [f for f in files if f.exists()]


def _package_modules():
    """Dotted module name -> path; a package's name maps to its __init__.py."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return mods


def _imported(path, module):
    """Dotted names (modules or attributes) the imports in `path` name.
    `module` is the file's dotted name, None for a root script."""
    package = None
    if module is not None:
        package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            prefix = node.module
            if node.level:
                if package is None:
                    continue
                base = package.split(".")
                base = base[: len(base) - node.level + 1]
                prefix = ".".join(base + ([node.module] if node.module else []))
            yield prefix
            yield from (f"{prefix}.{alias.name}" for alias in node.names)


def test_every_package_module_is_reached_from_a_root():
    assert {"__spark_entry__.py", "bench.py"} <= {p.name for p in _roots()}
    mods = _package_modules()
    seen = set()
    todo = [(root, None) for root in _roots()]
    while todo:
        path, module = todo.pop()
        for name in _imported(path, module):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):  # a.b.c also imports a and a.b
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    todo.append((mods[dotted], dotted))
    unreached = sorted(set(mods) - seen)
    assert not unreached, f"package modules no root imports: {unreached}"
