"""One batch driver: the package calls ``process_batch`` from exactly one
place, ``ReplayEngine.run_batches``. Bounded replay and streaming ingest
both go through it, so they skip, clamp, retry and resume at the consumed
seq the same way. A second driver has to be added here on purpose."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pg_walstream_spark"


def _defs(body):
    """Module-level functions and class methods; a nested def or lambda
    counts toward the function that contains it."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from _defs(node.body)


def test_one_process_batch_call_site():
    sites = []
    for p in sorted(PKG.rglob("*.py")):
        for f in _defs(ast.parse(p.read_text()).body):
            for node in ast.walk(f):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "process_batch"):
                    sites.append((str(p.relative_to(PKG)), f.name))
    assert sites == [("engine.py", "run_batches")], sites
