"""Each expression builder under ``functions/`` has one form.

A builder takes SQL expression text and returns a Column; it does not
also accept a Column and pick a second, Column-operator body by the
argument's type. This check is pure AST (no Spark): no function under
``functions/`` may annotate a parameter as both ``Column`` and ``str``
or call ``isinstance(…, str)``.
"""

from __future__ import annotations

import ast
from pathlib import Path

_FUNCTIONS = (
    Path(__file__).resolve().parent.parent
    / "sports_betting_data_pipeline_spark"
    / "functions"
)


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def test_no_builder_dispatches_on_argument_type():
    found = []
    for path in sorted(_FUNCTIONS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.name}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.annotation is not None and {"Column", "str"} <= _names(
                        arg.annotation
                    ):
                        found.append(f"{where} {node.name}({arg.arg}: Column | str)")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "isinstance"
                and len(node.args) == 2
                and "str" in _names(node.args[1])
            ):
                found.append(f"{where} isinstance(…, str)")
    assert not found, "two-form builders:\n" + "\n".join(found)
