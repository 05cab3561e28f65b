"""Each Arrow-kernel operator has one implementation.

The JVM Column twins that once sat behind a boolean Arrow-or-JVM option
are gone; the kernels are pinned by tests/kernel_reference.py instead.
A pure `ast` walk (no Spark session) over the package fails if any
function takes that option again.
"""

from __future__ import annotations

import ast

from tests.test_module_reachability import PKG, REPO

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
