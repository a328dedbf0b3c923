"""Failures are raised, not swallowed: no ``except Exception`` or bare
``except`` in the package, apart from the one documented site — the
kernel fallback's adapt coercion, where a value that the declared
``spark_out_type`` class cannot hold becomes NULL instead of failing the
Arrow serializer mid-job."""

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "valideer_spark"
)
BROAD = ("Exception", "BaseException")

#: (path relative to the package, enclosing function) of each allowed site
ALLOWED = {("plans/lowering.py", "kernel_fallback")}


def _broad_handlers(tree):
    """(handler, outermost enclosing function name) of every broad
    ``except`` clause in ``tree``."""
    found = []

    def visit(node, top):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and top is None:
            top = node.name
        if isinstance(node, ast.ExceptHandler):
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            if any(t is None or (isinstance(t, ast.Name) and t.id in BROAD) for t in types):
                found.append((node, top))
        for child in ast.iter_child_nodes(node):
            visit(child, top)

    visit(tree, None)
    return found


def test_no_broad_except_in_package():
    sites = []
    for root, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            sites += [(rel, top, h.lineno) for h, top in _broad_handlers(tree)]
    unexpected = [s for s in sites if (s[0], s[1]) not in ALLOWED]
    assert unexpected == []
    # the documented site is still there, and only once
    assert len(sites) == 1
