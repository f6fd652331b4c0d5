"""Every public top-level function of the package has a caller.

A helper nothing calls is dead weight that docs end up citing as the
implementation of something it no longer implements. This check is
pure AST (no Spark): a function counts as referenced when its name
appears as a code identifier (a name or an attribute) anywhere in the
package, ``bench.py``, ``__spark_entry__.py``, ``tests/``, ``scripts/``
or ``perfbench/``, other than its own definition. Docstrings, comments
and import lines do not count. Catalog builders registered with
``@register`` are reached through the query registry and are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
_PKG = _REPO / "sports_betting_data_pipeline_spark"


def _sources() -> list[Path]:
    files = [_REPO / "bench.py", _REPO / "__spark_entry__.py"]
    for d in (_PKG, _REPO / "tests", _REPO / "scripts", _REPO / "perfbench"):
        files.extend(sorted(d.rglob("*.py")))
    return files


def _is_registered(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> bool:
    for dec in fn.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def test_every_public_function_is_referenced():
    public: list[tuple[str, str]] = []
    for path in sorted(_PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not _is_registered(node)
            ):
                public.append((node.name, f"{path.relative_to(_REPO)}:{node.lineno}"))

    referenced: set[str] = set()
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)

    uncalled = sorted(f"{where} {name}" for name, where in public if name not in referenced)
    assert not uncalled, "public functions nothing references:\n" + "\n".join(uncalled)
