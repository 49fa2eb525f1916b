"""The benchmark's tracer (`perfbench/trace.py`) wraps engine attributes
by name from outside the engine. A rename there would silently zero a
per-layer metric, so this test reads `Tracer.install` with `ast` and
checks that every attribute it wraps, swaps or reads exists on its
owner — on a live Engine with its pgwire server running, since the
server's handler class is built per server."""

from __future__ import annotations

import ast
import os
import tempfile

TRACE = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "trace.py")


def _install_def() -> ast.FunctionDef:
    tree = ast.parse(open(TRACE).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "install":
            return node
    raise AssertionError("perfbench/trace.py has no install()")


def _loop_values(fn: ast.FunctionDef, name: str) -> list[str]:
    """Constants a `for <name> in (...)` loop inside `fn` binds."""
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.For)
            and isinstance(node.target, ast.Name)
            and node.target.id == name
        ):
            return [ast.literal_eval(e) for e in node.iter.elts]
    raise AssertionError(f"no loop binds {name}")


def test_traced_attributes_exist(spark):
    from risingwave_spark import api, frontend, sqlparse
    from risingwave_spark.api import Engine
    from risingwave_spark.functions import pgsql
    from risingwave_spark.streaming import join, mv

    fn = _install_def()
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_trace_names_"))
    eng.start_pg_server()
    try:
        ns = {"api": api, "frontend": frontend, "sqlparse": sqlparse,
              "pgsql": pgsql, "join": join, "mv": mv, "eng": eng,
              "srv": eng._pg_server}
        wrapped, swapped, read = [], [], []
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and ast.unparse(node.func) == "self.wrap":
                owner = eval(ast.unparse(node.args[0]), ns)
                arg = node.args[1]
                attrs = (
                    [arg.value] if isinstance(arg, ast.Constant)
                    else _loop_values(fn, arg.id)
                )
                wrapped += [(owner, a) for a in attrs]
            elif isinstance(node, ast.Call) and ast.unparse(node.func) == "self._undo.append":
                owner_node, attr_node = node.args[0].elts[:2]
                swapped.append((eval(ast.unparse(owner_node), ns), attr_node.value))
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, (ast.Name, ast.Attribute))
                and ast.unparse(node).split(".")[0] in ns
            ):
                read.append(ast.unparse(node))
        assert len(wrapped) >= 15, wrapped
        for owner, attr in wrapped:
            # Tracer.wrap takes a class attribute from the class's own
            # __dict__ (an inherited one would be wrapped on the parent)
            if isinstance(owner, type):
                assert attr in vars(owner), f"{owner.__name__}.{attr} is gone"
            else:
                assert callable(getattr(owner, attr, None)), f"{owner}.{attr} is gone"
        for owner, attr in swapped:
            assert hasattr(owner, attr), f"{owner}.{attr} is gone"
        for expr in read:
            eval(expr, ns)  # AttributeError names the missing attribute
    finally:
        eng.stop_pg_server()
