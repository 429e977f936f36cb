"""Guard, no Spark: the engine waits on a streaming query in exactly
one place, ``streaming/pipeline.py::drain`` (its contract is in that
module's docstring). A hand-rolled ``awaitTermination`` anywhere else
in the package fails here."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "sensorstream_scalable_sensor_data_pipeline_spark"
)


def _enclosing_functions(tree: ast.AST, attr: str) -> list[str]:
    """Names of the functions that call ``<x>.<attr>(...)``."""
    found = []
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr
                ):
                    found.append(fn.name)
    return found


def test_await_termination_only_in_the_drain():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 50  # the scan sees the package
    mentions = {
        str(p.relative_to(PKG)): p.read_text().count("awaitTermination(")
        for p in files
    }
    assert {k: n for k, n in mentions.items() if n} == {"streaming/pipeline.py": 1}
    tree = ast.parse((PKG / "streaming" / "pipeline.py").read_text())
    assert _enclosing_functions(tree, "awaitTermination") == ["drain"]
