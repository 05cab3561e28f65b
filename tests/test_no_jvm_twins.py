"""Each Arrow-kernel operator has one implementation.

The JVM Column twins that once sat behind a boolean Arrow-or-JVM option
are gone; the kernels are pinned by tests/kernel_reference.py instead.
A pure `ast` walk (no Spark session) over the package fails if any
function takes that option again, or if the vector modules define the
JVM argmin and distance folds the two vector kernels replaced.
"""

from __future__ import annotations

import ast

from tests.test_module_reachability import PKG, REPO

# every argmin, residual and PQ code comes from
# arrow_kernels.assign_clusters_arrow / coded_corpus_arrow
VECTOR_MODULES = ("operators/clustering.py", "operators/similarity.py")
JVM_VECTOR_FOLDS = {"_best_expr", "_vec", "_sqdist", "_sq_l2"}

# spelled in parts, so that a grep for the option over the repo finds
# only real uses of it
OPTION = "_".join(("use", "arrow"))


def test_no_function_takes_the_arrow_option():
    hits = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
                if any(p is not None and p.arg == OPTION for p in params):
                    name = getattr(node, "name", "<lambda>")
                    hits.append(f"{path.relative_to(REPO)}:{node.lineno} {name}")
    assert not hits, f"functions with a {OPTION} parameter: {hits}"


def test_vector_modules_define_no_jvm_argmin_or_distance_fold():
    hits = []
    for rel in VECTOR_MODULES:
        path = REPO / PKG / rel
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name in JVM_VECTOR_FOLDS:
                    hits.append(f"{rel}:{node.lineno} {node.name}")
    assert not hits, f"JVM vector folds next to the kernels: {hits}"
