"""Every package module is imported, and every public top-level package
function is named, from some program root.

A pure `ast` walk (no Spark session) from `__spark_entry__.py`, `bench.py`,
the perfbench workloads and the tools. It follows absolute and
relative imports, function-local ones included, and names each module of
`distributed_search_engine_spark/` that no root reaches. Functions are
followed by name: a root, or the body of a function already reached,
names another through a call, an attribute or an import.
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


# public package functions no program root names, each kept for a reason
KEPT = {
    "corpus.generate_rows": "the seeded driver-side corpus rows of "
    "FIXTURES.md; the rank-identity test rebuilds its reference from them",
    "corpus.make_corpus": "the seeded test corpus every index test builds "
    "from; make_corpus_distributed is its executor-side form for workloads",
    "operators.clustering.kmeans_fit": "Lloyd's k-means to convergence, the "
    "trained quantizer of the IVF x k-means test; kmeans_fit_fixed is its "
    "gated fixed-round form",
    "operators.code_symbols.symbol_lookup": "definition-site lookup over the "
    "gated symbol index; its tests pin camel/snake subtoken matching",
    "operators.postings.merge_postings": "the reference's I14 incremental "
    "merge (jobs/Indexer.java:947-1174); its tests pin keep-old and the "
    "normalized_tf re-cap",
}


def _names(node):
    """Identifiers a subtree names: bare names, attributes, imported names."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.ImportFrom):
            yield from (alias.name for alias in n.names)


def test_every_public_package_function_is_named_from_a_root():
    defs, todo = {}, []
    for module, path in _package_modules().items():
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((module, node))
            else:  # module-level code runs on import
                todo += _names(node)
    for root in _roots():
        todo += _names(ast.parse(root.read_text(encoding="utf-8")))
    seen = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for _, node in defs.get(name, []):
                todo += _names(node)
    unnamed = sorted(
        module.removeprefix(PKG + ".") + "." + name
        for name, found in defs.items()
        for module, node in found
        if name not in seen and not name.startswith("_")
        and not isinstance(node, ast.ClassDef)
    )
    assert unnamed == sorted(KEPT), (
        f"public package functions no root names: {sorted(set(unnamed) - set(KEPT))}; "
        f"kept ones a root now names: {sorted(set(KEPT) - set(unnamed))}"
    )
